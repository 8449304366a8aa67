#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of wikidata2pg_spark.

    python3 perfbench/run.py --workload import_gz --seed 1 --seconds 20 --trace 0

Workloads (see README.md):

* ``import_gz``: a seeded synthetic Wikidata dump as one ``.json.gz``
  file, loaded by ``__main__.run_import`` over COPY into a scratch
  PostgreSQL server started for the run.
* ``queries``: eight scan/exchange/kernel keys plus one iterative key
  with eager checkpoints and a pandas kernel, over seeded TPC-H-like
  tables.

A run sets up (session, one job; the database server for the import),
makes one untimed warm-up pass that is also checked, then repeats timed
passes until ``--seconds`` have gone by and at least ``MIN_PASSES`` of
the workload were made. It checks the program's outputs against results
computed apart from the program and prints, as its last line, one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. ``correct`` is false if any check failed or any operation
raised; a pass in which an operation raised is left out of the timings.
A traced run alternates traced and untraced passes, so it also reports
the tracing overhead, and writes its spans to ``perfbench/.traces/``.

Every file the run writes stays under ``perfbench/`` (inputs cached in
``.cache/``, scratch in ``.work/<pid>/``, removed at exit); every
process it starts is stopped and waited for before it exits.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CACHE = os.path.join(BENCH, ".cache")
TRACES = os.path.join(BENCH, ".traces")
WORKLOADS = ("import_gz", "queries")
# Timed passes a run makes at the least. An import pass swings more
# (COPY through a database server and 55 psql processes share the cores
# with Spark), so its median takes three passes; the query round swings
# less and takes two. A traced run makes four (untraced, traced, traced,
# untraced) on either workload.
MIN_PASSES = {"import_gz": 3, "queries": 2}
DEADLINE_S = 140.0  # no new pass starts after this much of the run
STOPPING: list[int] = []  # exit status, once a stop signal has arrived

DUMP_ENTITIES = 3000
QUERY_SCALE = 2
QUERY_KEYS = (
    "q1_pricing", "join3_top10", "tumbling_1h", "json_events_agg",
    "q_topk_per_group", "q_agg_rollup", "q_join_asof", "q_text_tfidf",
    "q_dedup_semantic_cluster",
)
IMPORT_TABLES = ("wd_labels", "wd_claims", "wd_qualifiers", "wd_sitelinks", "wd_edges")
MB = float(1 << 20)
# The driver JVM's heap cap, through the package's own setting. Under its
# 8g default G1 grows the heap as far as it likes; the inputs here need a
# fraction of 2g, and a bound keeps a run's footprint known on a machine
# it shares. Peak memory still varied by about 15% between runs of one
# seed, which is why it is a per-layer figure and not a gated one.
DRIVER_MEM = "2g"

END_TO_END = {"wall_s": "s", "setup_s": "s"}


def per_layer_units() -> dict[str, str]:
    units = {
        "peak_rss_mb": "MB", "first_pass_s": "s", "trace.overhead": "ratio",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "entities_per_s": "entities/s", "build_s": "s", "exec_s": "s",
        "scan.read_splits": "count", "flatten.parse_s": "s", "flatten.latest_s": "s",
        "flatten.latest_shuffle_mb": "MB", "flatten.stale_dropped": "count",
        "flatten.lines_in": "count", "flatten.corrupt_lines": "count",
        "pg_copy.export_s": "s", "pg_copy.copy_s": "s", "pg_copy.csv_mb": "MB",
    }
    for t in IMPORT_TABLES:
        units[f"flatten.{t}_s"] = "s"
        units[f"flatten.{t}_rows"] = "count"
    for k in QUERY_KEYS:
        units[f"registry.{k}.build_s"] = "s"
        units[f"registry.{k}.build_jobs"] = "count"
        units[f"registry.{k}.checkpoints"] = "count"
        units[f"spark.{k}.exec_s"] = "s"
        units[f"spark.{k}.shuffle_mb"] = "MB"
    return units


def log(msg: str) -> None:
    try:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    except OSError:  # stderr gone (the caller died): carry on cleaning up
        pass


def since_process_start() -> float:
    """Seconds since this process was created (kernel clock), at the
    time of the call."""
    with open("/proc/self/stat", "rb") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ inputs


def table_dir(seed: int) -> str:
    return os.path.join(CACHE, f"tables-s{seed}-x{QUERY_SCALE}")


def ensure_tables(seed: int) -> str:
    import tablegen

    out = table_dir(seed)
    if not os.path.exists(os.path.join(out, "_COMPLETE")):
        shutil.rmtree(out, ignore_errors=True)
        tablegen.generate(out, seed, QUERY_SCALE)
        open(os.path.join(out, "_COMPLETE"), "w").close()
    return out


def ensure_dump(seed: int):
    """(dump path, walk) for the seed, both cached."""
    import pickle

    import dumpgen

    spec = dumpgen.DumpSpec(seed=seed, entities=DUMP_ENTITIES, codec="gz")
    walk_path = os.path.join(CACHE, f"walk-{spec.key()}.pkl")
    path = dumpgen.write_dump(spec, CACHE)
    if os.path.exists(walk_path):
        with open(walk_path, "rb") as fh:
            return path, pickle.load(fh)
    walk = dumpgen.walk(dumpgen.generate_lines(spec))
    tmp = f"{walk_path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as fh:
        pickle.dump(walk, fh)
    os.replace(tmp, walk_path)
    return path, walk


def _make_inputs(workload: str, seed: int) -> None:
    if workload == "import_gz":
        ensure_dump(seed)
    else:
        import refs

        refs.references(ensure_tables(seed), QUERY_KEYS, CACHE, len(os.sched_getaffinity(0)))


def prepare_inputs(workload: str, seed: int) -> float:
    """Make the run's inputs and references, or find them cached, in a
    child process: what generating them allocates then stays out of this
    process's memory, whether or not the cache was warm. Returns the
    seconds it took."""
    import multiprocessing

    t = time.perf_counter()
    child = multiprocessing.get_context("fork").Process(target=_make_inputs, args=(workload, seed))
    child.start()
    child.join()
    if child.exitcode != 0:
        raise RuntimeError(f"making the inputs failed (exit code {child.exitcode})")
    return time.perf_counter() - t


# ------------------------------------------------------------ environment


def prepare_environment(work: str) -> None:
    """Run from the checkout root, on every core, with every scratch
    file of Python, the JVM and the workers under ``work``."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.chdir(ROOT)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            f"--conf spark.ui.showConsoleProgress=false "
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}" '
            "pyspark-shell"
        ),
    })
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp


def start_session():
    from wikidata2pg_spark.session import get_session

    spark = get_session("perfbench")
    spark.range(1000).selectExpr("sum(id)").collect()  # one job: the session is warm
    return spark


def _descendants() -> list[int]:
    from spans import _parents

    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it and its Python workers
    have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            except Exception:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:][:1] != b"Z"


def wait_for_exit(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended (they may have
    been re-parented by then); kill what outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


# ------------------------------------------------------------- pass loop


class Runner:
    """Counts operations and runs passes until the measuring window and
    the minimum pass count are both met."""

    def __init__(self, seconds: float, least: int):
        self.seconds, self.least = seconds, least
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            if STOPPING:  # a signal arrived inside a Py4J call, which swallowed it
                raise SystemExit(STOPPING[0]) from None
            self.failed += 1
            log("operation failed:\n" + traceback.format_exc())
            self.problem(f"{getattr(fn, '__name__', fn)}{args!r} raised "
                         f"{traceback.format_exc(limit=0).strip()}")
            return None

    def more(self, t_window: float, n_done: int, traced: bool) -> bool:
        """Another pass? A traced run makes at least two untraced and two
        traced passes."""
        if STOPPING or time.perf_counter() - T_START > DEADLINE_S:
            return False
        least = 4 if traced else self.least
        return n_done < least or time.perf_counter() - t_window < self.seconds

    def problem(self, what: str) -> None:
        self.problems.append(what)
        log(f"CHECK FAILED: {what}")


def traced_pass(args, k: int) -> bool:
    """Whether the k-th timed pass of a traced run is traced: untraced,
    traced, traced, untraced, ... so the JVM's warming favours neither."""
    return bool(args.trace) and k % 4 in (1, 2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------ import_gz


INT_COLUMNS = {"stmt_idx", "qual_idx", "n_badges"}


def read_pg_rows(dsn: str, table: str, cols, int_cols) -> Counter:
    import csv
    import io

    sql = f"COPY (SELECT {', '.join(cols)} FROM {table}) TO STDOUT WITH (FORMAT csv, NULL '\\N')"
    out = subprocess.run(["psql", dsn, "-X", "-q", "-v", "ON_ERROR_STOP=1", "-c", sql],
                         capture_output=True, check=True).stdout.decode("utf-8")
    rows = Counter()
    for rec in csv.reader(io.StringIO(out)):
        rows[tuple(None if v == "\\N" else int(v) if c in int_cols else v
                   for c, v in zip(cols, rec))] += 1
    return rows


def run_import_workload(args, r: Runner, tr, sampler, state) -> dict:
    import checks
    import dumpgen
    from pgscratch import ScratchPostgres

    t = time.perf_counter()
    dump, walk = ensure_dump(args.seed)  # cached by prepare_inputs
    gen_s = state["gen_s"] + time.perf_counter() - t
    log(f"dump {os.path.basename(dump)}: {walk.entities} entities, "
        f"{walk.stale_lines} stale, {walk.corrupt_lines} corrupt ({gen_s:.1f} s)")

    pg = state["pg"] = ScratchPostgres(os.path.join(state["work"], "pg"))
    # the server starts while the JVM does: neither waits for the other
    with ThreadPoolExecutor(1) as ex:
        pg_started = ex.submit(pg.start)
        spark = state["spark"] = start_session()
        dsn = pg_started.result()
    sampler.exclude.add(pg.proc.pid)
    setup_s = since_process_start() - gen_s

    import wikidata2pg_spark.sources.pg_copy as pg_copy
    from wikidata2pg_spark import __main__ as cli

    hooks = ImportHooks(spark, tr, cli, pg_copy)

    def one_pass(i: int, traced: bool) -> dict:
        hooks.begin(i, traced)
        t0 = time.perf_counter()
        try:
            with tr.span("run_import", round=i):
                counts = cli.run_import(spark, dump, None, pg_dsn=dsn)
        finally:
            hooks.end()
        wall = time.perf_counter() - t0 - hooks.excluded
        log(f"pass {i}{' (traced)' if traced else ''}: {wall:.2f} s")
        layers = None
        if traced:
            layers = hooks.layers(i)
            layers.update({f"flatten.{t}_rows": counts.get(t, 0) for t in IMPORT_TABLES})
        return {"wall": wall, "counts": counts, "csv_lines": dict(hooks.csv_lines),
                "layers": layers}

    def check_pass(res: dict, i: int) -> None:
        for problem in checks.pass_counts(res["counts"], res["csv_lines"], walk, f"pass {i}"):
            r.problem(problem)

    passes = []
    with hooks:
        first = time.perf_counter()
        res = r.op(one_pass, 0, False)
        first_pass_s = time.perf_counter() - first
        if res:
            check_pass(res, 0)
        i = 1
        window = time.perf_counter()
        while r.more(window, len(passes), bool(args.trace)):
            traced = traced_pass(args, len(passes))
            res = r.op(one_pass, i, traced)
            if res:
                res["traced"] = traced
                check_pass(res, i)
                passes.append(res)
            i += 1

    # the final state of the database equals the walk, read without Spark
    try:
        loaded = {t: read_pg_rows(dsn, t, cols, INT_COLUMNS)
                  for t, cols in dumpgen.COLUMNS.items()}
    except subprocess.CalledProcessError as e:
        r.problem(f"reading the loaded tables failed: {e.stderr.decode(errors='replace')}")
    else:
        for problem in checks.loaded_rows(loaded, walk, "PostgreSQL"):
            r.problem(problem)

    untraced = [p["wall"] for p in passes if not p["traced"]]
    metrics = {"setup_s": setup_s, "wall_s": median(untraced),
               "peak_rss_mb": sampler.stop()}
    if args.trace:
        layered = [p for p in passes if p["traced"]]
        layers = {k: median([p["layers"][k] for p in layered])
                  for k in (layered[0]["layers"] if layered else {})}
        for p in layered:
            for problem in checks.layer_counts(p["layers"], walk, "traced pass"):
                r.problem(problem)
        layers["first_pass_s"] = first_pass_s
        layers["entities_per_s"] = walk.entities / metrics["wall_s"] if metrics["wall_s"] else 0.0
        traced_wall = median([p["wall"] for p in layered])
        layers["trace.overhead"] = traced_wall / metrics["wall_s"] if metrics["wall_s"] else 0.0
        metrics.update(layers)
    return metrics


class ImportHooks:
    """Wrappers around the import's layer boundaries, installed for the
    duration of a ``with``. Always on: the CSV line count after each COPY
    load (its time is excluded from the pass). In a traced pass: spans,
    one job group per layer and table, and a Spark Observation of the
    dedup's output."""

    def __init__(self, spark, tr, cli, pg_copy):
        self.spark, self.tr, self.cli, self.pg_copy = spark, tr, cli, pg_copy
        self.sc = spark.sparkContext
        self.round, self.traced, self.table = 0, False, None
        self.excluded = 0.0
        self.csv_lines: dict[str, int] = {}
        self.groups: dict[str, list[str]] = {}
        self.obs = None
        self.orig: dict = {}
        self.saved_builders: dict = {}

    def _patch(self, obj, name, wrapper) -> None:
        self.orig[(obj, name)] = getattr(obj, name)
        setattr(obj, name, wrapper(getattr(obj, name)))

    def __enter__(self):
        from wikidata2pg_spark.wikidata import flatten

        builders = self.cli.TABLE_BUILDERS
        self.saved_builders = dict(builders)
        for name, fn in list(builders.items()):
            builders[name] = self.builder(name, fn)
        self._patch(flatten, "latest_revisions", self.latest_revisions)
        self._patch(self.pg_copy, "export_csv", self.export_csv)
        self._patch(self.pg_copy, "_run_psql", self.run_psql)
        self._patch(self.pg_copy, "load_postgres_copy", self.load_copy)
        return self

    def __exit__(self, *exc):
        self.cli.TABLE_BUILDERS.clear()
        self.cli.TABLE_BUILDERS.update(self.saved_builders)
        for (obj, name), fn in self.orig.items():
            setattr(obj, name, fn)
        self.orig.clear()
        return False

    def begin(self, i: int, traced: bool) -> None:
        self.round, self.traced, self.table = i, traced, None
        self.excluded = 0.0
        self.csv_lines.clear()
        self.groups = {}
        self.obs = None
        self.t_spans = len(self.tr.spans)

    def end(self) -> None:
        self.sc.setJobGroup("perfbench", "perfbench")

    def group(self, layer: str) -> None:
        if self.traced:
            g = f"r{self.round}.{layer}.{self.table}"
            self.groups.setdefault(layer, []).append(g)
            self.sc.setJobGroup(g, g)

    # --- wrappers
    def builder(self, name, fn):
        def wrapped(parsed):
            self.table = name
            self.group("import")
            with self.tr.span(f"flatten.{name}"):
                return fn(parsed)
        return wrapped

    def latest_revisions(self, fn):
        def wrapped(parsed):
            out = fn(parsed)
            if not self.traced:
                return out
            from pyspark.sql import Observation, functions as F

            self.obs = Observation("latest")
            return out.observe(
                self.obs, F.count(F.col("e.id")).alias("ids"),
                F.count(F.when(F.col("e.id").isNull(), 1)).alias("corrupt"))
        return wrapped

    def export_csv(self, fn):
        def wrapped(df, out_dir):
            self.group("pg_copy.export")
            try:
                with self.tr.span("pg_copy.export", table=self.table):
                    return fn(df, out_dir)
            finally:
                self.group("import")
        return wrapped

    def run_psql(self, fn):
        def wrapped(dsn, argv_tail, stdin):
            if any("\\copy" in a for a in argv_tail):
                with self.tr.span("pg_copy.copy", table=self.table):
                    return fn(dsn, argv_tail, stdin)
            return fn(dsn, argv_tail, stdin)
        return wrapped

    def load_copy(self, fn):
        def wrapped(df, dsn, table, ddl, work_dir):
            n = fn(df, dsn, table, ddl, work_dir)
            t = time.perf_counter()
            lines = 0
            for part in glob.glob(os.path.join(work_dir, f"csv_{table}", "part-*.csv")):
                with open(part, "rb") as fh:
                    lines += fh.read().count(b"\n")
            self.csv_lines[table] = lines
            self.excluded += time.perf_counter() - t
            return n
        return wrapped

    # --- per-layer numbers of one traced pass
    def layers(self, i: int) -> dict:
        from spans import group_stats, ran

        out: dict = {}
        stages_by_layer: dict[str, list] = {}
        jobs_total = set()
        for layer, groups in self.groups.items():
            for g in dict.fromkeys(groups):
                jobs, stages = group_stats(self.spark, g)
                jobs_total.update(jobs)
                stages_by_layer.setdefault(layer, []).append((g, ran(stages)))
        all_stages = {s.stage_id: s for lst in stages_by_layer.values() for _, st in lst for s in st}
        out["spark.jobs"] = len(jobs_total)
        out["spark.stages"] = len(all_stages)
        out["spark.tasks"] = sum(s.tasks for s in all_stages.values())
        # Stage roles inside each table's CSV export jobs: the first table's
        # jobs also read and parse the dump (the stage that reads input and
        # writes a shuffle) and keep the latest revisions (the stage that
        # reads that shuffle and builds the cached parse); every table then
        # runs its flattener into the load repartition (a shuffle write) and
        # the CSV write (output bytes).
        parse = latest = None
        for t in IMPORT_TABLES:
            out[f"flatten.{t}_s"] = 0.0
        export_s = csv_b = 0.0
        for g, stages in stages_by_layer.get("pg_copy.export", []):
            table = g.rsplit(".", 1)[1]
            for s in stages:
                if s.input_bytes and s.shuffle_write_bytes and not s.shuffle_read_bytes and parse is None:
                    parse = s
                elif (parse is not None and latest is None and s.shuffle_read_bytes
                      and not s.shuffle_write_bytes and not s.output_bytes):
                    latest = s
                elif s.shuffle_write_bytes:
                    out[f"flatten.{table}_s"] += s.seconds
                elif s.output_bytes:
                    export_s += s.seconds
                    csv_b += s.output_bytes
        out["scan.read_splits"] = parse.tasks if parse else 0
        out["flatten.parse_s"] = parse.seconds if parse else 0.0
        out["flatten.latest_shuffle_mb"] = parse.shuffle_write_bytes / MB if parse else 0.0
        out["flatten.latest_s"] = latest.seconds if latest else 0.0
        out["pg_copy.export_s"] = export_s
        out["pg_copy.csv_mb"] = csv_b / MB
        out["pg_copy.copy_s"] = self.tr.total("pg_copy.copy", self.t_spans)
        seen = self.obs.get if self.obs is not None else {}
        # every line of the file, the array's two bracket lines included
        out["flatten.lines_in"] = parse.input_records if parse else 0
        out["flatten.corrupt_lines"] = seen.get("corrupt", 0)
        out["flatten.stale_dropped"] = (out["flatten.lines_in"] - 2
                                        - seen.get("corrupt", 0) - seen.get("ids", 0))
        return out


# ---------------------------------------------------------------- queries


def query_functions() -> dict:
    from wikidata2pg_spark.flagship import (
        batch_tumbling,
        join3_top10,
        json_extract_agg,
        pricing_summary,
    )
    from wikidata2pg_spark.registry import all_queries

    reg = all_queries()
    fns = {"q1_pricing": pricing_summary, "join3_top10": join3_top10,
           "tumbling_1h": batch_tumbling, "json_events_agg": json_extract_agg}
    fns.update({k: reg[k] for k in QUERY_KEYS if k not in fns})
    return fns


class CheckpointCounter:
    """Counts eager checkpoints by wrapping pyspark's
    ``DataFrame.localCheckpoint`` and ``DataFrame.checkpoint``."""

    def __init__(self, tr, df_class):
        self.tr, self.df_class, self.count, self.orig = tr, df_class, 0, {}

    def __enter__(self):
        DataFrame = self.df_class
        for name in ("localCheckpoint", "checkpoint"):
            fn = self.orig[name] = getattr(DataFrame, name)

            def wrapped(df, *a, _fn=fn, _name=name, **kw):
                self.count += 1
                with self.tr.span(f"checkpoint.{_name}"):
                    return _fn(df, *a, **kw)

            setattr(DataFrame, name, wrapped)
        return self

    def __exit__(self, *exc):
        for name, fn in self.orig.items():
            setattr(self.df_class, name, fn)
        return False


def run_queries_workload(args, r: Runner, tr, sampler, state) -> dict:
    import refs

    t = time.perf_counter()
    tdir = ensure_tables(args.seed)  # cached by prepare_inputs, as are the references
    want = refs.references(tdir, QUERY_KEYS, CACHE, len(os.sched_getaffinity(0)))
    gen_s = state["gen_s"] + time.perf_counter() - t
    log(f"tables {os.path.basename(tdir)} and references ready ({gen_s:.1f} s)")

    spark = state["spark"] = start_session()
    setup_s = since_process_start() - gen_s
    sc = spark.sparkContext
    fns = query_functions()
    df_class = type(spark.range(1))  # the session's concrete DataFrame class

    def verify(key: str) -> None:
        rows = [tuple(row) for row in fns[key](spark, tdir).collect()]
        problem = refs.compare(rows, want[key], refs.REFERENCES[key][1])
        if problem is not None:
            r.problem(f"{key}: {problem}")

    def timed(i: int, key: str, traced: bool) -> dict:
        res = {}
        if traced:
            sc.setJobGroup(f"r{i}.{key}.build", key)
        with CheckpointCounter(tr, df_class) if traced else contextlib.nullcontext() as ck:
            with tr.span("registry.build", key=key) as s:
                df = fns[key](spark, tdir)
        res["build"] = s.seconds
        if traced:
            res["checkpoints"] = ck.count
            sc.setJobGroup(f"r{i}.{key}.exec", key)
        with tr.span("spark.exec", key=key) as s:
            df.write.format("noop").mode("overwrite").save()
        res["exec"] = s.seconds
        sc.setJobGroup("perfbench", "perfbench")
        return res

    first = time.perf_counter()
    for key in QUERY_KEYS:
        r.op(verify, key)
    first_pass_s = time.perf_counter() - first

    rounds = []
    i = 1
    window = time.perf_counter()
    while r.more(window, len(rounds), bool(args.trace)):
        traced = traced_pass(args, len(rounds))
        per_key = {}
        with tr.span("round", round=i, traced=traced):
            for key in QUERY_KEYS:
                res = r.op(timed, i, key, traced)
                if res is not None:
                    per_key[key] = res
        if len(per_key) == len(QUERY_KEYS):  # a round that lost a key is not timed
            rounds.append({"traced": traced, "keys": per_key, "i": i})
        log(f"round {i}{' (traced)' if traced else ''}: "
            f"{sum(v['build'] + v['exec'] for v in per_key.values()):.2f} s "
            + json.dumps({k: round(v["build"] + v["exec"], 3) for k, v in per_key.items()}))
        i += 1

    def round_total(rd, part=None):
        return sum((v["build"] + v["exec"]) if part is None else v[part] for v in rd["keys"].values())

    plain = [rd for rd in rounds if not rd["traced"]]
    metrics = {"setup_s": setup_s, "wall_s": median([round_total(rd) for rd in plain]),
               "peak_rss_mb": sampler.stop()}
    if args.trace:
        from spans import group_stats, ran

        layered = [rd for rd in rounds if rd["traced"]]
        lay: dict[str, list] = {}
        for rd in layered:
            jobs_all, stages_all = set(), {}
            for key, v in rd["keys"].items():
                bj, bst = group_stats(spark, f"r{rd['i']}.{key}.build")
                ej, est = group_stats(spark, f"r{rd['i']}.{key}.exec")
                jobs_all.update(bj + ej)
                stages_all.update({s.stage_id: s for s in ran(bst) + ran(est)})
                lay.setdefault(f"registry.{key}.build_s", []).append(v["build"])
                lay.setdefault(f"registry.{key}.build_jobs", []).append(len(bj))
                lay.setdefault(f"registry.{key}.checkpoints", []).append(v["checkpoints"])
                lay.setdefault(f"spark.{key}.exec_s", []).append(v["exec"])
                lay.setdefault(f"spark.{key}.shuffle_mb", []).append(
                    sum(s.shuffle_write_bytes for s in ran(est)) / MB)
            lay.setdefault("spark.jobs", []).append(len(jobs_all))
            lay.setdefault("spark.stages", []).append(len(stages_all))
            lay.setdefault("spark.tasks", []).append(sum(s.tasks for s in stages_all.values()))
        metrics.update({k: median(v) for k, v in lay.items()})
        metrics["build_s"] = median([round_total(rd, "build") for rd in plain])
        metrics["exec_s"] = median([round_total(rd, "exec") for rd in plain])
        metrics["first_pass_s"] = first_pass_s
        traced_wall = median([round_total(rd) for rd in layered])
        metrics["trace.overhead"] = traced_wall / metrics["wall_s"] if metrics["wall_s"] else 0.0
    return metrics


# ------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="wikidata2pg_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "wikidata2pg_spark", "__main__.py")):
        log(f"the program is not here: no wikidata2pg_spark package under {ROOT}")
        return 2

    import spans as tracing

    work = os.path.join(BENCH, ".work", str(os.getpid()))
    os.makedirs(CACHE, exist_ok=True)
    state: dict = {"work": work, "spark": None, "pg": None}

    def on_signal(signum, _frame):
        STOPPING.append(128 + signum)
        raise SystemExit(128 + signum)

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, on_signal)

    tr = tracing.Tracer(enabled=bool(args.trace))
    sampler = tracing.RssSampler()
    r = Runner(args.seconds, MIN_PASSES[args.workload])
    metrics: dict = {}
    try:
        prepare_environment(work)
        state["gen_s"] = prepare_inputs(args.workload, args.seed)
        sampler.start()
        run = run_import_workload if args.workload == "import_gz" else run_queries_workload
        metrics = run(args, r, tr, sampler, state)
    finally:
        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, signal.SIG_IGN)
        started = _descendants()  # the JVM, its Python workers, the database
        steps = [sampler.stop]
        if state["spark"] is not None:
            steps.append(lambda: stop_session(state["spark"]))
        if state["pg"] is not None:
            steps.append(state["pg"].stop)
        steps += [lambda: wait_for_exit(started),
                  lambda: shutil.rmtree(work, ignore_errors=True)]
        for step in steps:  # each runs even if an earlier one failed
            try:
                step()
            except Exception:
                log("clean-up step failed:\n" + traceback.format_exc())
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    units = per_layer_units() if args.trace else END_TO_END
    out_metrics = {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
                   for name, unit in units.items()}
    if args.trace:
        os.makedirs(TRACES, exist_ok=True)
        tr.write(os.path.join(TRACES, f"trace-{args.workload}-s{args.seed}.json"),
                 {"workload": args.workload, "seed": args.seed, "metrics": metrics,
                  "problems": r.problems})
    correct = not r.problems and r.failed == 0
    print(json.dumps({"correct": correct, "attempted": r.attempted, "failed": r.failed,
                      "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
