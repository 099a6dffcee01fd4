"""The repository benchmark: one seeded workload, measured end to end.

    python3 perfbench/run.py --workload html-crawl --seed 1 --trace 0

Workloads (inputs come from ``perfbench/gen.py``; the program sees only
the generated parquet):

* ``html-crawl``  extraction over Common-Crawl-like HTML
* ``pdf-mixed``   extraction over mixed PDFs

A traced run also measures the ``jobs.curate`` layer on a seeded
extracted table of its own; no end-to-end metric times it.

Extraction drives the production entry points as ``jobs/extract.py``
does: ``build_session`` at ``local[nproc]``, ``run_extract`` with the
default heavy threshold, ``lineage`` and ``open_table(...).append``.
Each timed iteration processes a freshly generated shard, so no input
repeats within a run.

With ``--trace 0`` the last stdout line is a JSON object whose metrics
are the end-to-end ones; with ``--trace 1`` they are the per-layer ones
(every layer is printed on every workload; a layer the workload does
not run reads 0).  Lines before it list every metric by name and unit.
Metric names and units, and the default of ``--seconds``, come from
``BENCHMARK.json``.
Everything a run writes stays under ``perfbench/_work/``; all but the
span file of a traced run is removed when the run ends.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402  (perfbench/gen.py)
import probes  # noqa: E402
from spans import Tracer  # noqa: E402

DEFAULT_SEED = 1
# Warm-up shards, each as a share of a timed shard.  Extraction keeps
# getting faster for about three shards while the JVM compiles its hot
# code: on a 4-core VM the JVM's CPU time for an HTML-and-PDF shard
# falls from 19 s to 4.5 s over four shards, while the Python workers'
# stays near 5 s.
WARM_EXTRACT = (1.0, 1.0, 1.0)
WORKLOADS = ("html-crawl", "pdf-mixed")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}


# ------------------------------------------------------------------ set-up


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _isolate(work: str) -> None:
    """Point every scratch location of Spark, the JVM and the Python
    workers into ``work``, and size the session to this machine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def build(tracer: Tracer):
    """Process start → SparkSession → one warm-up action through the
    production extraction UDF, which starts the Python workers.
    Returns (spark, setup seconds)."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.spark.session import build_session
    from pdf_parser_spark.spark.udfs import with_extraction

    with tracer.span("spark.build_session"):
        spark = build_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    n = spark.sparkContext.defaultParallelism
    warm = spark.range(n, numPartitions=n).select(
        F.lit(b"<p>warm-up</p>").alias("html"))
    with tracer.span("spark.warmup"):
        with_extraction(warm).select("text_extracted").collect()
    return spark, _process_age_s()


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


# ---------------------------------------------------------------- helpers


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _digest(rows) -> str:
    h = hashlib.sha256()
    for line in sorted(f"{a}\t{b}\t{c}" for a, b, c in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def _expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


class Run:
    """State of one benchmark run: the session, the scratch dir, the
    tracer and the counters the checks fill."""

    def __init__(self, spark, args, work: str, tracer: Tracer):
        self.spark = spark
        self.args = args
        self.work = work
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.groups: list[str] = []
        self.layers: dict[str, float] = {}
        self.peak_rss_mb = 0.0
        self.inproc_docs: list[bytes] = []  # documents for the in-process pass

    def fail(self, n: int, why: str) -> None:
        if n:
            self.failed += n
            self.problems.append(why)

    def group(self, name: str) -> None:
        self.groups.append(name)
        self.spark.sparkContext.setJobGroup(name, name)

    def check_digest(self, section: str, key: str, value) -> None:
        """On the default seed, ``value`` must equal the committed one."""
        print(f"\n# {section} {key}: {json.dumps(value)}", file=sys.stderr)
        if self.args.seed != DEFAULT_SEED:
            return
        want = _expected().get(section, {}).get(key)
        if want != value:
            self.fail(1, f"{key} differs from perfbench/expected.json")

    def collect_garbage(self) -> None:
        """Untimed, between iterations: drop the Python references to
        the last iteration's frames, then run a JVM GC so the
        ContextCleaner frees their cached and checkpointed blocks.
        Otherwise the blocks pile up until a GC happens to run, and
        each iteration starts from a different heap."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def timed(self, run_one, make_input, warm: tuple[float, ...]) -> list[float]:
        """Warm-up iterations, then timed iterations on fresh shards
        until ``--seconds`` of timed work.  In trace mode iterations are
        traced (their clock includes the metric reads) in the order
        traced, untraced, untraced, traced, and so on, so that the drift
        of a warming process falls on both sides; there are at least four.
        ``run_one`` returns (docs, seconds); the result is the docs/s of
        every timed iteration.
        ``warm`` holds the size of each warm-up shard as a share of a
        timed one: the warm-up runs every code path and lets the JVM
        compile the hot ones before the clock starts."""
        rates = {True: [], False: []}
        timed, i = 0.0, 0
        # the sampler starts before the warm-up, so that starting it is
        # not part of the first timed iteration
        with probes.WorkerRss() as rss:
            for k, scale in enumerate(warm, 1):
                run_one(make_input(-k, scale), f"warm{k}", traced=False)
                self.collect_garbage()
            rss.reset()
            cpu0 = probes.cpu_times()
            while i < 1 + 3 * self.args.trace or timed < self.args.seconds:
                traced = bool(self.args.trace) and i % 4 in (0, 3)
                docs, secs = run_one(make_input(i), i, traced=traced)
                self.collect_garbage()
                rates[traced].append(docs / secs)
                self.attempted += docs
                timed += secs
                i += 1
        self.peak_rss_mb = rss.peak_mb
        print(f"\n# host CPU steal during the timed iterations: "
              f"{probes.steal_share(cpu0, probes.cpu_times()):.1%}", file=sys.stderr)
        for g in self.groups:
            self.fail(probes.group_failed_tasks(self.spark, g), f"failed tasks in {g}")
        if self.args.trace:
            tr, un = _median(rates[True]), _median(rates[False])
            self.layers["trace.docs_per_s_traced"] = tr
            self.layers["trace.docs_per_s_untraced"] = un
            self.layers["trace.overhead_pct"] = (un - tr) / un * 100 if un else 0.0
        return rates[True] + rates[False]


# ------------------------------------------------------------- extraction


def extraction(run: Run, make_docs) -> list[float]:
    from pyspark.sql import functions as F

    from pdf_parser_spark.engine import extract_document
    from pdf_parser_spark.spark.job import (
        DEFAULT_HEAVY_TAIL_BYTES,
        lineage,
        run_extract,
    )
    from pdf_parser_spark.spark.table import open_table

    spark, tracer = run.spark, run.tracer
    table_dir = os.path.join(run.work, "table")
    table = open_table(spark, table_dir)
    per_iter: list[dict] = []
    shard0: dict = {}

    def make_input(i: int, scale: float = 1.0):
        docs = make_docs(run.args.seed, shard=i, scale=scale)
        print(f"\n# input {i}: {json.dumps(gen.describe_pages(docs))}",
              file=sys.stderr)
        path = os.path.join(run.work, f"pages-{i}.parquet")
        gen.write_pages(path, docs)
        return docs, path

    def run_one(inp, i, traced: bool):
        docs, path = inp
        tr = tracer if traced else Tracer(False)
        run.group(f"extract-{i}")
        t0 = time.perf_counter()
        with tr.span("spark.extract"):
            extracted = run_extract(spark.read.parquet(path)).persist()
            lin_df = lineage(extracted)
            lin = [r.asDict() for r in lin_df.collect()]
        run.group(f"append-{i}")
        t_app = time.perf_counter()
        with tr.span("table.append"):
            record = table.append(extracted, lineage_rows=lin)
        t_end = time.perf_counter()
        with tr.span("bench.metrics"):
            pm = probes.plan_metrics(lin_df)
            tasks = probes.group_tasks(spark, f"extract-{i}")
        t1 = time.perf_counter() if traced else t_end
        extracted.unpersist(blocking=True)
        n = len(docs)
        n_heavy = sum(len(d) > DEFAULT_HEAVY_TAIL_BYTES for _, d in docs)
        run.fail(max(0, n - record["row_count"]), f"shard {i}: rows missing")
        run.fail(abs(sum(r["row_count"] for r in lin) - n), f"shard {i}: lineage rows")
        run.fail(abs(pm["udf.heavy.rows"] - n_heavy), f"shard {i}: heavy routing")
        run.fail(abs(pm["udf.normal.rows"] + pm["udf.heavy.rows"] - n),
                 f"shard {i}: udf rows")
        print(f"\n# iteration {i}: {n} docs in {t1 - t0:.3f} s "
              f"(extract {t_app - t0:.3f} s, append {t_end - t_app:.3f} s)",
              file=sys.stderr)
        if isinstance(i, str):  # a warm-up iteration
            return n, t1 - t0
        pm["table.append_s"] = t_end - t_app
        pm["tasks.extract.p50_ms"] = _median(tasks)
        pm["tasks.extract.max_ms"] = max(tasks, default=0.0)
        pm["tasks.extract.sum_ms"] = sum(tasks)
        per_iter.append(pm)
        if i == 0:
            shard0.update(docs=docs, snap=os.path.join(table_dir, record["dir"]))
        return n, t1 - t0

    rates = run.timed(run_one, make_input, warm=WARM_EXTRACT)

    # -- correctness of the first shard, untimed
    docs = dict(shard0["docs"])
    out = spark.read.parquet(shard0["snap"]).select(
        "url", F.md5(F.col("text_extracted").cast("binary")).alias("md5"),
        "decode_error_kind").collect()
    got = {r.url: r for r in out}
    run.fail(len(set(docs) - set(got)), "shard 0: urls missing from the snapshot")
    run.fail(len(out) - len(got), "shard 0: duplicate urls in the snapshot")
    run.fail(sum((r.decode_error_kind is not None) != ("/malformed/" in r.url)
                 for r in out),
             "shard 0: error rows are not exactly the planted malformed documents")
    urls = sorted(docs)
    sample = set(urls[:: max(1, len(urls) // 16)]) | {
        u for u, d in docs.items() if len(d) > DEFAULT_HEAVY_TAIL_BYTES}
    texts = {r.url: r for r in spark.read.parquet(shard0["snap"])
             .filter(F.col("url").isin(sorted(sample)))
             .select("url", "text_extracted", "decode_error_kind").collect()}
    bad = 0
    for u in sample:
        want = extract_document(docs[u])
        r = texts.get(u)
        bad += r is None or (r.text_extracted, r.decode_error_kind) != (
            want["text"], want["error_kind"])
    run.fail(bad, "shard 0: Spark text differs from extract_document")
    run.check_digest(run.args.workload, "digest", _digest(
        (r.url, r.md5, r.decode_error_kind) for r in out))

    # -- per-layer numbers
    if run.args.trace:
        for k in per_iter[0]:
            run.layers[k] = _median([pm[k] for pm in per_iter])
        python_ms = (run.layers["udf.normal.python_total_ms"]
                     + run.layers["udf.heavy.python_total_ms"])
        run.layers["unattributed_ms"] = run.layers["tasks.extract.sum_ms"] - (
            run.layers["scan.time_ms"] + python_ms + run.layers["shuffle.write_ms"])
        run.layers["job.normal_docs"] = run.layers["udf.normal.rows"]
        run.layers["job.heavy_docs"] = run.layers["udf.heavy.rows"]
        run.layers["udf.python_total_ms"] = python_ms
        run.inproc_docs = [d for _, d in shard0["docs"]]
    return rates


# ----------------------------------------------------------------- curate


# The public stage functions of jobs.curate in the order curate() runs
# them; curate() has no function for the decode filter, so it is
# written out here as curate() writes it.
CURATE_STAGES = (
    ("url_admission", "url_admission"),
    ("decoded", None),
    ("template_strip", "strip_host_templates"),
    ("quality", "quality_floor"),
    ("exact_dedup", "exact_dedup"),
    ("near_dedup", "neardup_collapse"),
    ("span_dedup", "strip_repeated_spans"),
)


def _write_curated(frame, out: str) -> None:
    # the renames jobs/curate.py applies before its own write
    frame.withColumnRenamed("_n_tok", "n_tokens").withColumnRenamed(
        "_tok_removed", "span_tokens_removed").write.mode("overwrite").parquet(out)


def curate_stage_pass(run: Run, path: str, tag: str) -> tuple[dict, list[int]]:
    """Untimed: each stage function of ``CURATE_STAGES`` applied,
    checkpointed and counted in sequence, as curate() does, each in a
    job group of its own; then the write.  Its spans are named
    ``stages.*``, apart from the ``curate`` spans of the curate() run.
    Returns the per-stage metrics and the row counts (input first)."""
    from pyspark.sql import functions as F

    import jobs.curate as cur

    spark, tracer = run.spark, run.tracer
    pm: dict[str, float] = {}
    frame = spark.read.parquet(path)
    counts = [frame.count()]
    for name, fn in CURATE_STAGES:
        group = f"stages-{tag}-{name}"
        run.group(group)
        s0 = time.perf_counter()
        with tracer.span(f"stages.{name}"):
            staged = (getattr(cur, fn)(frame) if fn
                      else frame.filter(F.col("decode_error").isNull()))
            frame = staged.localCheckpoint(eager=True)
            counts.append(frame.count())
        pm[f"curate.{name}.s"] = time.perf_counter() - s0
        pm[f"curate.{name}.rows_out"] = counts[-1]
        pm[f"curate.{name}.shuffle_bytes"] = probes.group_shuffle_bytes(spark, group)
    run.group(f"stages-{tag}-write")
    s0 = time.perf_counter()
    with tracer.span("stages.write"):
        _write_curated(frame, os.path.join(run.work, f"stages-{tag}"))
    pm["curate.write_s"] = time.perf_counter() - s0
    return pm, counts


def curate_layer(run: Run) -> None:
    """Trace mode: the ``jobs.curate`` layer, on an extracted table of
    its own (``gen.curate_rows``, which plants the rows each stage must
    drop); no end-to-end metric times it.  ``jobs.curate.curate`` and
    the write run once on shard 0, which warms the curate code up and is
    the output every check applies to.  Then the stage functions run one
    by one (``curate_stage_pass``) on shard 0, whose row counts must
    equal curate()'s funnel, and on shard 1, the warmer pass, whose
    numbers are reported."""
    from pyspark.sql import functions as F

    import jobs.curate as cur

    spark, tracer = run.spark, run.tracer
    first_group = len(run.groups)
    paths = []
    for shard in (0, 1):
        rows, truth = gen.curate_rows(run.args.seed, shard=shard)
        print(f"\n# curate input {shard}: "
              f"{json.dumps(gen.describe_curate(rows, truth))}", file=sys.stderr)
        paths.append(os.path.join(run.work, f"extracted-{shard}.parquet"))
        gen.write_extracted(paths[-1], rows)
        if shard == 0:
            n, truth0 = len(rows), truth

    out = os.path.join(run.work, "curated-0")
    run.group("curate-0")
    with tracer.span("curate.curate"):
        curated, funnel = cur.curate(spark.read.parquet(paths[0]))
    with tracer.span("curate.write"):
        _write_curated(curated, out)
    counts = [s["rows"] for s in funnel]
    run.attempted += n
    res = spark.read.parquet(out).select(
        "url", F.md5("text_extracted").alias("md5")).collect()
    urls = {r.url for r in res}
    run.fail(abs(counts[0] - n), "curate: input rows != funnel input")
    run.fail(sum(b > a for a, b in zip(counts, counts[1:])), "curate: a stage added rows")
    run.fail(abs(len(res) - counts[-1]), "curate: output rows != funnel")
    run.fail(len(res) - len({r.md5 for r in res}), "curate: duplicate texts")
    run.fail(len(urls & set(truth0["spam_urls"] + truth0["error_urls"])),
             "curate: planted spam or error rows survived")
    run.fail(sum(len(urls & set(g)) > 1 for g in truth0["exact_groups"]),
             "curate: an exact-duplicate group kept two rows")
    run.check_digest("curate", "funnel", counts)

    _, stage_counts = curate_stage_pass(run, paths[0], "0")
    run.fail(int(stage_counts != counts),
             f"curate: stage pass counts {stage_counts} differ from curate()'s "
             f"funnel {counts}; CURATE_STAGES no longer follows jobs.curate.curate")
    pm, _ = curate_stage_pass(run, paths[1], "1")
    run.layers.update(pm)
    for g in run.groups[first_group:]:
        run.fail(probes.group_failed_tasks(spark, g), f"failed tasks in {g}")


# ------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=BENCHMARK["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(HERE, "_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        spark, setup_s = build(tracer)
        run = Run(spark, args, work, tracer)
        make_docs = gen.html_pages if args.workload == "html-crawl" else gen.pdf_docs
        rates = extraction(run, make_docs)
        if args.trace:
            curate_layer(run)
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    if run.inproc_docs:
        # after shutdown, so no JVM or worker thread competes with the timing
        from inproc import engine_pass

        layers = engine_pass(run.inproc_docs, tracer)
        run.layers.update(layers)
        run.layers["udf.conversion_ms"] = (
            run.layers["udf.python_total_ms"] - layers["inproc.doc_total_ms"])
    if args.trace:
        tracer.write(os.path.join(
            HERE, "_work", f"trace-{args.workload}-{args.seed}.json"))

    failed_frac = run.failed / run.attempted
    for why in run.problems:
        print(f"# check failed: {why}", file=sys.stderr)
    values = {
        "docs_per_s": _median(rates),
        "setup_s": setup_s,
        "py_worker_peak_rss_mb": run.peak_rss_mb,
    }
    if args.trace:
        layers = {k: 0.0 for k in PER_LAYER}
        layers.update({k: v for k, v in run.layers.items() if k in PER_LAYER})
        layers.update({f"self.{k}_ms": v for k, v in tracer.self_ms().items()
                       if f"self.{k}_ms" in PER_LAYER})
        layers["check.failed_frac"] = failed_frac
        values, units = layers, PER_LAYER
    else:
        units = END_TO_END
    print(f"failed_frac {failed_frac:.6g} ratio "
          f"({run.failed} failed of {run.attempted} attempted)")
    for k, v in values.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
