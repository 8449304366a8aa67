"""Golden assertions on the Wikidata micro-fixture (SURVEY §5.3.4):
the flatteners' semantics, independent of the DuckDB oracle.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from wikidata2pg_spark.wikidata import flatten
from wikidata2pg_spark.wikidata.fixture import DUMP_LINES


def _latest(spark):
    raw = spark.createDataFrame([(l,) for l in DUMP_LINES], "line string")
    return flatten.latest_revisions(flatten.parse_entities(flatten.clean_dump_lines(raw)))


def test_dump_cleaning_drops_brackets_and_commas(spark):
    raw = spark.createDataFrame([(l,) for l in DUMP_LINES], "line string")
    cleaned = flatten.clean_dump_lines(raw)
    assert cleaned.count() == len(DUMP_LINES) - 2
    assert cleaned.filter(F.col("line").endswith(",")).count() == 0


def test_latest_revision_wins(spark):
    p = _latest(spark)
    q42 = p.filter(F.col("e.id") == "Q42").select("e.lastrevid", "e.labels").collect()
    assert len(q42) == 1
    assert q42[0]["lastrevid"] == 100  # rev 99 dropped


def test_truthy_prefers_preferred_and_drops_deprecated(spark):
    t = flatten.truthy_statements(_latest(spark))
    p800 = t.filter((F.col("id") == "Q42") & (F.col("property") == "P800")).collect()
    assert [r["rank"] for r in p800] == ["preferred"]  # normal sibling suppressed
    p569 = t.filter((F.col("id") == "Q1136") & (F.col("property") == "P569")).collect()
    assert [r["rank"] for r in p569] == ["normal"]  # deprecated excluded


def test_snaktype_nulls(spark):
    st = flatten.statements(_latest(spark))
    novalue = st.filter(F.col("snaktype") == "novalue").collect()
    assert {r["property"] for r in novalue} == {"P40"}
    assert all(r["dv"] is None for r in novalue)


def test_label_fallback_chain(spark):
    p = _latest(spark)
    lbl = F.col("e.labels")
    best = p.select(
        F.col("e.id").alias("id"),
        F.coalesce(lbl["en"]["value"], lbl["de"]["value"], lbl["es"]["value"], lbl["fr"]["value"]).alias("b"),
    ).collect()
    m = {r["id"]: r["b"] for r in best}
    assert m["Q1136"] == "ejemplo"  # no en -> es wins
    assert m["Q42"] == "Douglas Adams"


def test_qualifiers_flatten(spark):
    q = flatten.qualifiers_table(_latest(spark))
    rows = q.filter(F.col("subject") == "Q42").collect()
    assert {r["qual_property"] for r in rows} == {"P580", "P582"}
    assert all(r["qual_value"].startswith("+19") for r in rows)


def test_item_edges(spark):
    e = flatten.item_edges(_latest(spark))
    assert e.filter((F.col("src") == "Q1136") & (F.col("dst") == "Q42")).count() == 1
    # preferred AND normal both appear as edges (truthiness is a separate op)
    assert e.filter(F.col("property") == "P800").count() == 2


def test_datavalue_union_dispatch(spark):
    tr = flatten.claims_triples(_latest(spark))
    by_type = {
        r["value_type"]: r["value"]
        for r in tr.filter(F.col("value_type").isNotNull()).collect()
    }
    assert by_type["globecoordinate"] == "52.52,13.405"
    assert by_type["quantity"] == "+3644826"
    assert by_type["monolingualtext"] == "Ejemplo"
    assert by_type["string"] == "Ejemplo Commons"


def _write_dump_gz(tmp_path, name="latest-all.json.gz"):
    """One definition of the micro-dump-as-gzip framing (five call sites
    previously copy-pasted it; a framing change now edits one place)."""
    import gzip

    gz = tmp_path / name
    with gzip.open(gz, "wt", encoding="utf-8") as fh:
        fh.write("\n".join(DUMP_LINES) + "\n")
    return gz


def test_cli_import_end_to_end(spark, tmp_path):
    """The CLI front door (VERDICT r4 task 4): write the micro-dump as a
    real .json.gz, run `run_import` against embedded Derby, and check the
    loaded row counts equal the flatteners' counts. Exercises the whole
    clean → parse → latest → flatten → batched-JDBC path plus the
    idempotence story (second run overwrites, same counts)."""

    from wikidata2pg_spark.__main__ import run_import

    gz = _write_dump_gz(tmp_path, "latest-all.json.gz")
    url = f"jdbc:derby:{tmp_path}/cli_derby;create=true"

    counts = run_import(
        spark, str(gz), url,
        tables=["wd_labels", "wd_claims", "wd_truthy", "wd_sitelinks"],
        load_partitions=2, batchsize=100,
    )
    p = _latest(spark)
    assert counts["wd_labels"] == flatten.labels_table(p).count()
    assert counts["wd_claims"] == flatten.claims_triples(p).count()
    assert counts["wd_truthy"] == flatten.truthy_statements(p).count()
    assert counts["wd_sitelinks"] == flatten.sitelinks_table(p).count()
    assert counts["wd_claims"] > counts["wd_truthy"] > 0
    # idempotent re-import: overwrite, not append
    again = run_import(spark, str(gz), url, tables=["wd_labels"], load_partitions=2)
    assert again["wd_labels"] == counts["wd_labels"]
    # --truthy-only: wd_claims gets the truthy-filtered triples instead
    truthy = run_import(
        spark, str(gz), url, tables=["wd_claims"], truthy_only=True, load_partitions=2
    )
    assert truthy["wd_claims"] == counts["wd_truthy"]


def test_cli_main_argv(spark, tmp_path, capsys):
    """argv surface: python -m wikidata2pg_spark --dump ... --jdbc-url ...
    prints a tab-separated (table, rows) line per loaded table."""

    from wikidata2pg_spark.__main__ import main

    gz = _write_dump_gz(tmp_path, "dump.json.gz")
    rc = main([
        "--dump", str(gz),
        "--jdbc-url", f"jdbc:derby:{tmp_path}/cli_main_derby;create=true",
        "--tables", "wd_edges",
        "--load-partitions", "1",
    ])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 1 and out[0].startswith("wd_edges\t")
    assert int(out[0].split("\t")[1]) == flatten.item_edges(_latest(spark)).count()


@pytest.mark.skipif(
    "SPARK_GRAFT_PG_URL" not in os.environ,
    reason="no Postgres server in this sandbox (Derby covers the JDBC path; "
    "see README 'Postgres-vs-Derby caveat')",
)
def test_cli_import_real_postgres(spark, tmp_path):
    """Env-gated integration test for the behaviors Derby cannot exercise:
    run the import against a real Postgres with reWriteBatchedInserts on.
    Set SPARK_GRAFT_PG_URL='jdbc:postgresql://host/db?user=u&password=p'."""

    from wikidata2pg_spark.__main__ import run_import

    gz = _write_dump_gz(tmp_path, "latest-all.json.gz")
    counts = run_import(
        spark, str(gz), os.environ["SPARK_GRAFT_PG_URL"],
        tables=["wd_labels", "wd_claims"],
        jdbc_options={"reWriteBatchedInserts": "true"},
    )
    p = _latest(spark)
    assert counts["wd_labels"] == flatten.labels_table(p).count()
    assert counts["wd_claims"] == flatten.claims_triples(p).count()


def test_bz2_dump_file_parse_equals_inline(spark, tmp_path):
    """bz2 twin of the gz test below — the other published dump format
    (VERDICT r4 task 6); same pipeline, codec inferred from extension."""
    import bz2

    bz = tmp_path / "latest-all.json.bz2"
    with bz2.open(bz, "wt", encoding="utf-8") as fh:
        fh.write("\n".join(DUMP_LINES) + "\n")
    raw = spark.read.text(str(bz)).withColumnRenamed("value", "line")
    from_file = flatten.latest_revisions(
        flatten.parse_entities(flatten.clean_dump_lines(raw))
    )
    fa = sorted(map(tuple, flatten.claims_triples(from_file).collect()))
    fb = sorted(map(tuple, flatten.claims_triples(_latest(spark)).collect()))
    assert fa == fb and len(fa) > 0


def test_gz_dump_file_parse_equals_inline(spark, tmp_path):
    """End-to-end file-based ingestion: DUMP_LINES written as a real
    .json.gz dump file, read back through spark.read.text (gzip codec is
    inferred from the extension, exactly as for latest-all.json.gz), then
    run through the same clean -> parse -> latest pipeline. The result must
    be row-identical to the inline-literal parse that the t2 oracles use
    (VERDICT r1 "What's missing" #4)."""

    gz = _write_dump_gz(tmp_path, "latest-all.json.gz")

    raw = spark.read.text(str(gz)).withColumnRenamed("value", "line")
    from_file = flatten.latest_revisions(
        flatten.parse_entities(flatten.clean_dump_lines(raw))
    )
    inline = _latest(spark)

    a = sorted(
        from_file.select(
            F.col("e.id").alias("id"), F.col("e.type").alias("type"), F.col("e.lastrevid").alias("lastrevid")
        ).collect()
    )
    b = sorted(
        inline.select(
            F.col("e.id").alias("id"), F.col("e.type").alias("type"), F.col("e.lastrevid").alias("lastrevid")
        ).collect()
    )
    assert a == b and len(a) > 0
    # and the full flattened claim set matches too
    fa = sorted(map(tuple, flatten.claims_triples(from_file).collect()))
    fb = sorted(map(tuple, flatten.claims_triples(inline).collect()))
    assert fa == fb


def test_latest_revisions_one_scan_keeps_every_corrupt_line(spark, tmp_path):
    """The corrupt-line contract through the file path: three truncated
    lines (two of them byte-identical) appended to the micro-dump all
    come out of clean -> parse -> latest_revisions as null-id rows that
    keep their raw text, the dedup still picks Q42's rev 100, and the
    executed plan scans the dump once."""
    import gzip

    corrupt = [DUMP_LINES[1][:60], DUMP_LINES[1][:60], DUMP_LINES[3][:25]]
    gz = tmp_path / "corrupt.json.gz"
    with gzip.open(gz, "wt", encoding="utf-8") as fh:
        fh.write("\n".join(DUMP_LINES + corrupt) + "\n")
    raw = spark.read.text(str(gz)).withColumnRenamed("value", "line")
    out = flatten.latest_revisions(
        flatten.parse_entities(flatten.clean_dump_lines(raw))
    )
    got = out.select("raw_line", F.col("e.id").alias("id"), "e.lastrevid")
    rows = got.collect()
    assert sorted(r.raw_line for r in rows if r.id is None) == sorted(corrupt)
    assert [r.lastrevid for r in rows if r.id == "Q42"] == [100]
    plan = got._jdf.queryExecution().executedPlan().toString()
    final_plan = plan.split("== Initial Plan ==")[0]
    assert final_plan.count("FileScan text") == 1


def test_cli_parquet_export(spark, tmp_path):
    """--parquet-dir: the lakehouse export path — same pipeline, parquet
    sink. Counts equal the flatteners' and the written tables are readable
    as ordinary parquet (the engine's own table format)."""

    from wikidata2pg_spark.__main__ import run_import

    gz = _write_dump_gz(tmp_path, "latest-all.json.gz")
    out = tmp_path / "lake"

    counts = run_import(
        spark, str(gz), None,
        tables=["wd_labels", "wd_edges"],
        load_partitions=2,
        parquet_dir=str(out),
    )
    p = _latest(spark)
    assert counts["wd_labels"] == flatten.labels_table(p).count()
    assert counts["wd_edges"] == flatten.item_edges(p).count()
    back = spark.read.parquet(str(out / "wd_labels"))
    assert set(back.columns) == set(flatten.labels_table(p).columns)
    # idempotent: overwrite, not append
    again = run_import(spark, str(gz), None, tables=["wd_labels"],
                       load_partitions=2, parquet_dir=str(out))
    assert again["wd_labels"] == counts["wd_labels"]


def test_dump_diff_classifies_all_statuses(spark):
    """dump_diff's four-way classification, including the 'removed' branch
    the fixture-backed q_wd_dump_diff cannot reach (a revision-cutoff
    snapshot never deletes an entity)."""
    import json

    def mk(id_, rev, labels=None, nclaims=0):
        e = {"id": id_, "type": "item", "lastrevid": rev}
        if labels:
            e["labels"] = {
                k: {"language": k, "value": f"{id_}-{k}"} for k in labels
            }
        if nclaims:
            e["claims"] = {
                "P1": [
                    {
                        "mainsnak": {
                            "snaktype": "value",
                            "property": "P1",
                            "datavalue": {"type": "string", "value": "x"},
                        },
                        "type": "statement",
                        "rank": "normal",
                    }
                ]
                * nclaims
            }
        return json.dumps(e, separators=(",", ":"))

    def parsed(lines):
        raw = spark.createDataFrame([(l,) for l in lines], "line string")
        return flatten.parse_entities(flatten.clean_dump_lines(raw))

    old = parsed([mk("Q1", 1, ["en"]), mk("Q2", 5, ["en", "de"], nclaims=2),
                  mk("Q3", 9, ["fr"])])
    new = parsed([mk("Q2", 6, ["en", "es"], nclaims=3),
                  mk("Q3", 9, ["fr"]), mk("Q4", 2, ["en"])])
    out = {r.id: r for r in flatten.dump_diff(new, old).collect()}
    assert out["Q1"].status == "removed" and out["Q1"].new_rev is None
    assert out["Q2"].status == "changed"
    assert (out["Q2"].labels_added, out["Q2"].labels_removed) == (1, 1)  # es in, de out
    assert out["Q2"].claims_delta == 1
    assert out["Q3"].status == "unchanged" and out["Q3"].claims_delta == 0
    assert out["Q4"].status == "added" and out["Q4"].old_rev is None
    assert out["Q4"].labels_added == 1
