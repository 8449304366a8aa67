"""REAL-PostgreSQL integration for the COPY-based bulk loader
(sources/pg_copy.py) — closes the Derby-substitution gap for the load
semantics Derby can't exercise (VERDICT r7 missing-item 6): Postgres
text/timestamp/double/NULL wire formats, COPY's CSV dialect, and the
NULL-vs-empty-string distinction.

The container ships PostgreSQL 15 binaries but no JDBC driver jar, so
the JDBC keys stay on embedded Derby (README caveat) and THIS suite
drives a scratch postgres started on a private unix socket (postgres
refuses uid 0, hence runuser to the packaged ``postgres`` user; every
path it touches lives under /tmp). Self-gating: skips wherever the
binaries, the user, or the runuser privilege are absent."""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile

import pytest

from tests.conftest import SF_SMOKE

PG_BIN = "/usr/lib/postgresql/15/bin"


def _can_run_pg() -> bool:
    if not (os.path.isdir(PG_BIN) and shutil.which("psql") and shutil.which("runuser")):
        return False
    try:
        probe = subprocess.run(
            ["runuser", "-u", "postgres", "--", "true"], capture_output=True
        )
        return probe.returncode == 0
    except OSError:
        return False


pytestmark = pytest.mark.skipif(
    not _can_run_pg(), reason="no runnable PostgreSQL server in this environment"
)


@pytest.fixture(scope="module")
def pg_dsn():
    root = tempfile.mkdtemp(prefix="w2pg_pg_")
    os.chmod(root, 0o777)
    sock = os.path.join(root, "sock")
    os.makedirs(sock)
    data = os.path.join(root, "data")
    subprocess.run(["chown", "-R", "postgres:postgres", root], check=True)
    run_pg = ["runuser", "-u", "postgres", "--"]
    subprocess.run(
        run_pg + [f"{PG_BIN}/initdb", "-D", data, "-A", "trust"],
        capture_output=True,
        check=True,
    )
    subprocess.run(
        run_pg
        + [
            f"{PG_BIN}/pg_ctl",
            "-D",
            data,
            "-o",
            f"-k {sock} -p 55433 -c listen_addresses=''",
            "-l",
            os.path.join(root, "pg.log"),
            "start",
        ],
        capture_output=True,
        check=True,
    )
    dsn = f"postgresql://postgres@/postgres?host={sock}&port=55433"
    try:
        yield dsn
    finally:
        subprocess.run(
            run_pg + [f"{PG_BIN}/pg_ctl", "-D", data, "-m", "immediate", "stop"],
            capture_output=True,
        )
        shutil.rmtree(root, ignore_errors=True)


def _q(dsn: str, sql: str) -> str:
    return subprocess.run(
        ["psql", dsn, "-X", "-q", "-A", "-t", "-v", "ON_ERROR_STOP=1", "-c", sql],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()


def test_events_copy_load_roundtrip(spark, pg_dsn, tmp_path):
    """The events table (bigint/timestamp/text/double/NULLs) COPY-loads
    into real Postgres and the loaded aggregates match Spark's exactly:
    row count, per-column NULL counts, exact integer sums, min/max
    timestamps, and the cents-exact value total."""
    from pyspark.sql import functions as F

    from wikidata2pg_spark.sources.pg_copy import load_postgres_copy
    from wikidata2pg_spark.tables import load

    ev = load(spark, SF_SMOKE, "events")
    n = load_postgres_copy(
        ev,
        pg_dsn,
        "events_pg",
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type text, value double precision, props text",
        str(tmp_path),
    )
    want = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sid"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("nv"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))).alias("cents"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("tmin"),
        F.countDistinct("event_type").alias("ntypes"),
    ).collect()[0]
    assert n == want.n
    got = _q(
        pg_dsn,
        "SELECT count(*), sum(event_id), count(*) FILTER (WHERE value IS NULL), "
        "sum(floor(value * 100 + 0.5))::bigint, "
        "to_char(min(ts), 'YYYY-MM-DD HH24:MI:SS'), "
        "count(DISTINCT event_type) FROM events_pg",
    ).split("|")
    assert int(got[0]) == want.n
    assert int(got[1]) == want.sid
    assert int(got[2]) == want.nv
    assert int(got[3]) == want.cents
    assert got[4] == want.tmin
    assert int(got[5]) == want.ntypes


def test_copy_csv_dialect_edge_cases(spark, pg_dsn, tmp_path):
    """Crafted rows pin the CSV<->COPY contract: embedded quotes, commas,
    newlines, backslashes, unicode, empty string vs NULL — each must
    round-trip byte-identically, and NULL must stay NULL (not '')."""
    rows = [
        (1, 'say "hi"', 1.5),
        (2, "comma, inside", -0.0),
        (3, "line\nbreak", None),
        (4, "back\\slash", 2.0),
        (5, "ünïcodé ✓", 3.25),
        (6, "", 4.0),      # empty string, NOT NULL
        (7, None, 5.0),    # NULL text
    ]
    df = spark.createDataFrame(rows, "id bigint, t string, v double")
    from wikidata2pg_spark.sources.pg_copy import load_postgres_copy

    n = load_postgres_copy(
        df, pg_dsn, "edge_pg", "id bigint, t text, v double precision",
        str(tmp_path),
    )
    assert n == len(rows)
    for rid, t, _v in rows:
        if t is None:
            assert _q(pg_dsn, f"SELECT t IS NULL FROM edge_pg WHERE id={rid}") == "t"
        else:
            got = _q(
                pg_dsn,
                # convert_to, not t::bytea — the text-to-bytea CAST parses
                # backslashes as bytea escape syntax and aborts
                f"SELECT length(t) || ':' || encode(convert_to(t, 'UTF8'), 'base64') "
                f"FROM edge_pg WHERE id={rid}",
            )
            import base64

            ln, b64 = got.split(":", 1)
            assert int(ln) == len(t)
            assert base64.b64decode(b64.replace("\n", "")).decode() == t
    # empty string and NULL are DIFFERENT rows
    assert _q(pg_dsn, "SELECT count(*) FROM edge_pg WHERE t = ''") == "1"
    assert _q(pg_dsn, "SELECT count(*) FROM edge_pg WHERE t IS NULL") == "1"


def test_wikidata_tables_copy_load_counts(spark, pg_dsn, tmp_path):
    """The reference's headline flow on real Postgres: parse the dump,
    flatten to labels/claims/sitelinks, COPY-load all three, and the
    loaded row counts equal K12's attested JDBC-load counts."""
    from wikidata2pg_spark.registry import all_queries
    from wikidata2pg_spark.sources.pg_copy import load_postgres_copy
    from wikidata2pg_spark.wikidata import flatten
    from wikidata2pg_spark.wikidata.queries import _latest

    p = _latest(spark)
    frames = {
        "wd_labels": flatten.labels_table(p),
        "wd_claims": flatten.claims_triples(p),
        "wd_sitelinks": flatten.sitelinks_table(p),
    }
    loaded = {}
    for name, df in frames.items():
        def pg_type(t: str) -> str:
            if t in ("bigint", "int"):
                return "bigint"
            if t == "boolean":
                return "boolean"
            if t == "double":
                return "double precision"
            return "text"

        cols = ", ".join(f"{c} {pg_type(t)}" for c, t in df.dtypes)
        loaded[name] = load_postgres_copy(df, pg_dsn, name, cols, str(tmp_path))
    want = {
        r.table_name: r.n_rows
        for r in all_queries()["q_wd_load_postgres"](spark, SF_SMOKE).collect()
    }
    assert loaded == want


def test_upsert_copy_on_conflict(spark, pg_dsn, tmp_path):
    """The ON CONFLICT upsert path on real Postgres: first load inserts
    everything; a second run with half the rows changed updates exactly
    those and inserts the new key; re-running the same frame is
    state-idempotent (values unchanged) — the q_stream_jdbc_upsert
    contract spoken in Postgres's own dialect."""
    from wikidata2pg_spark.sources.pg_copy import upsert_postgres_copy

    ddl = "k bigint, name text, total double precision"
    first = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, name string, total double"
    )
    ins, upd = upsert_postgres_copy(first, pg_dsn, "ups_pg", ddl, ["k"], str(tmp_path))
    assert (ins, upd) == (3, 0)
    second = spark.createDataFrame(
        [(2, "b", 25.0), (3, "c", 30.0), (4, "d", 40.0)], "k long, name string, total double"
    )
    ins, upd = upsert_postgres_copy(second, pg_dsn, "ups_pg", ddl, ["k"], str(tmp_path))
    assert (ins, upd) == (1, 2)
    state = _q(pg_dsn, "SELECT k || ':' || total FROM ups_pg ORDER BY k")
    assert state.splitlines() == ["1:10", "2:25", "3:30", "4:40"]
    # idempotence: same frame again -> all updates, values unchanged
    ins, upd = upsert_postgres_copy(second, pg_dsn, "ups_pg", ddl, ["k"], str(tmp_path))
    assert (ins, upd) == (0, 3)
    assert _q(pg_dsn, "SELECT k || ':' || total FROM ups_pg ORDER BY k").splitlines() == [
        "1:10", "2:25", "3:30", "4:40",
    ]


def test_upsert_hardening(spark, pg_dsn, tmp_path):
    """The r8 review findings, each pinned: duplicate-key input collapses
    to one deterministic winner instead of aborting the merge; a
    key-only table takes the DO NOTHING path with (inserted, updated)
    still summing to the deduped count; a ddl/frame name mismatch and a
    pre-existing PK-less target fail FAST with clear errors."""
    from wikidata2pg_spark.sources.pg_copy import (
        load_postgres_copy,
        upsert_postgres_copy,
    )

    ddl = "k bigint, v double precision"
    # duplicate keys in ONE input frame: deterministic winner (max by the
    # full-column DISTINCT ON order -> lowest v wins after ORDER BY k, v)
    dup = spark.createDataFrame([(1, 9.0), (1, 2.0), (2, 5.0)], "k long, v double")
    ins, upd = upsert_postgres_copy(dup, pg_dsn, "ups_dup", ddl, ["k"], str(tmp_path))
    assert (ins, upd) == (2, 0)
    assert _q(pg_dsn, "SELECT v FROM ups_dup WHERE k = 1") == "2"
    # key-only table: DO NOTHING path, re-run counts as updates
    link = spark.createDataFrame([(1, 2), (3, 4)], "a long, b long")
    ins, upd = upsert_postgres_copy(
        link, pg_dsn, "ups_link", "a bigint, b bigint", ["a", "b"], str(tmp_path)
    )
    assert (ins, upd) == (2, 0)
    ins, upd = upsert_postgres_copy(
        link, pg_dsn, "ups_link", "a bigint, b bigint", ["a", "b"], str(tmp_path)
    )
    assert (ins, upd) == (0, 2)
    assert _q(pg_dsn, "SELECT count(*) FROM ups_link") == "2"
    # ddl / frame name mismatch fails before touching the database
    with pytest.raises(ValueError, match="frame columns"):
        upsert_postgres_copy(
            dup, pg_dsn, "ups_bad", "uid bigint, v double precision", ["uid"],
            str(tmp_path),
        )
    # pre-existing PK-less target is rejected with a clear error
    load_postgres_copy(dup, pg_dsn, "ups_nopk", ddl, str(tmp_path))
    with pytest.raises(RuntimeError, match="unique constraint"):
        upsert_postgres_copy(dup, pg_dsn, "ups_nopk", ddl, ["k"], str(tmp_path))
    # no staging tables leaked by any of the above
    assert _q(
        pg_dsn,
        "SELECT count(*) FROM pg_tables WHERE tablename LIKE '%__staging%'",
    ) == "0"


def test_upsert_key_not_leading_and_comma_types(spark, pg_dsn, tmp_path):
    """The r8 ADVICE findings, each pinned: (1) the dedup's DISTINCT ON
    must work when key_cols are NOT a leading prefix of df.columns
    (Postgres requires the DISTINCT ON exprs to lead the ORDER BY — the
    old ORDER BY in frame order raised a psql error at merge time);
    (2) hand-written DDL types containing commas (numeric(10,2)) must
    survive the column-name validation's splitter; (3) a psql failure
    surfaces Postgres's stderr, not the DSN-bearing command line."""
    from wikidata2pg_spark.sources.pg_copy import upsert_postgres_copy

    # key column LAST in the frame, duplicate keys to force the dedup
    df = spark.createDataFrame(
        [(9.25, 1), (2.50, 1), (5.00, 2)], "v double, k long"
    )
    ddl = "v numeric(10,2), k bigint"
    ins, upd = upsert_postgres_copy(
        df, pg_dsn, "ups_tailkey", ddl, ["k"], str(tmp_path)
    )
    assert (ins, upd) == (2, 0)
    # deterministic winner: ORDER BY k, v -> lowest v per key
    assert _q(pg_dsn, "SELECT v FROM ups_tailkey WHERE k = 1") == "2.50"
    assert _q(pg_dsn, "SELECT v FROM ups_tailkey WHERE k = 2") == "5.00"
    # psql errors carry Postgres's stderr and never the DSN
    from wikidata2pg_spark.sources.pg_copy import _psql

    with pytest.raises(RuntimeError) as ei:
        _psql(pg_dsn, "SELECT * FROM table_that_does_not_exist_xyz")
    assert "table_that_does_not_exist_xyz" in str(ei.value)
    assert pg_dsn not in str(ei.value)


def test_cli_import_into_real_postgres(spark, pg_dsn, tmp_path):
    """The CLI front door against REAL PostgreSQL: run_import with
    pg_dsn bulk-loads the flattened tables over COPY, counts match the
    flatteners, re-import is idempotent, and a psql label lookup returns
    the same answer as the Spark-side query — the reference's end-to-end
    story on its actual target database."""
    from tests.test_wikidata import _write_dump_gz

    from wikidata2pg_spark.__main__ import run_import
    from wikidata2pg_spark.wikidata import flatten
    from wikidata2pg_spark.wikidata.queries import _latest

    gz = _write_dump_gz(tmp_path, "latest-all.json.gz")
    counts = run_import(
        spark, str(gz), None, pg_dsn=pg_dsn,
        tables=["wd_labels", "wd_claims", "wd_sitelinks"],
        load_partitions=2,
    )
    p = _latest(spark)
    assert counts["wd_labels"] == flatten.labels_table(p).count()
    assert counts["wd_claims"] == flatten.claims_triples(p).count()
    assert counts["wd_sitelinks"] == flatten.sitelinks_table(p).count()
    # idempotent re-import (overwrite semantics)
    again = run_import(
        spark, str(gz), None, pg_dsn=pg_dsn, tables=["wd_labels"],
        load_partitions=2,
    )
    assert again["wd_labels"] == counts["wd_labels"]
    # value-level spot check: the English label of the first entity
    row = (
        flatten.labels_table(p)
        .filter("lang = 'en'")
        .orderBy("id")
        .select("id", "label")
        .first()
    )
    got = _q(
        pg_dsn,
        "SELECT label FROM wd_labels WHERE lang = 'en' "
        f"AND id = '{row.id}'",
    )
    assert got == row.label


def _numbered(spark, lo: int, hi: int, parts: int, bad_last: bool = False):
    """Frame of text numbers lo..hi-1 in ``parts`` contiguous partitions
    (one CSV part each, in order); ``bad_last`` makes the final row 'x',
    which COPY rejects for a bigint column — in the last part."""
    from pyspark.sql import functions as F

    v = F.col("id").cast("string")
    if bad_last:
        v = F.when(F.col("id") == hi - 1, F.lit("x")).otherwise(v)
    return spark.range(lo, hi, numPartitions=parts).select(v.alias("v"))


def test_failed_load_keeps_previous_table(spark, pg_dsn, tmp_path):
    """A load that fails in its last CSV part rolls back whole: the
    previous table is still there with its previous rows, not dropped
    and not half-filled with the parts that went in before the bad one."""
    from wikidata2pg_spark.sources.pg_copy import load_postgres_copy

    before = _numbered(spark, 1000, 1250, 2)
    assert load_postgres_copy(before, pg_dsn, "atomic_pg", "v bigint", str(tmp_path)) == 250
    bad = _numbered(spark, 0, 400, 4, bad_last=True)
    with pytest.raises(RuntimeError, match="invalid input syntax"):
        load_postgres_copy(bad, pg_dsn, "atomic_pg", "v bigint", str(tmp_path))
    assert _q(pg_dsn, "SELECT count(*) || ':' || min(v) FROM atomic_pg") == "250:1000"


def test_failed_upsert_leaves_no_staging_table(spark, pg_dsn, tmp_path):
    """An upsert whose staging load fails must not leave the staging
    table behind: the load runs before the merge's cleanup guard, so it
    has to roll back on its own."""
    from wikidata2pg_spark.sources.pg_copy import upsert_postgres_copy

    bad = _numbered(spark, 0, 400, 4, bad_last=True)
    with pytest.raises(RuntimeError, match="invalid input syntax"):
        upsert_postgres_copy(bad, pg_dsn, "ups_fail", "v bigint", ["v"], str(tmp_path))
    assert _q(
        pg_dsn, "SELECT count(*) FROM pg_class WHERE relname LIKE '%__staging_%'"
    ) == "0"


def test_load_is_one_psql_session(spark, pg_dsn, tmp_path, monkeypatch):
    """A multi-part load starts exactly one psql, and part paths holding
    a single quote reach \\copy intact."""
    from wikidata2pg_spark.sources import pg_copy

    calls = []
    run = pg_copy._run_psql

    def counting(dsn, argv_tail, stdin):
        calls.append(argv_tail)
        return run(dsn, argv_tail, stdin)

    monkeypatch.setattr(pg_copy, "_run_psql", counting)
    work_dir = tmp_path / "it's here"
    df = _numbered(spark, 0, 400, 4)
    assert pg_copy.load_postgres_copy(df, pg_dsn, "one_psql", "v bigint", str(work_dir)) == 400
    assert len(calls) == 1
    assert _q(pg_dsn, "SELECT sum(v) FROM one_psql") == str(sum(range(400)))
