"""Cold, output-checked runs of one wordscape_spark workload.

    python3 perfbench/run.py --workload extract_skew --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The run generates (or reuses) the seeded
input, sets up the Spark session cold (JVM launch included), then repeats
the job cold (fresh output directory, every cache dropped) until
``--seconds`` have passed, and checks every repetition's output.  A traced
run times one traced repetition instead, then probes the layers.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The line before it is a JSON report with the
samples, input properties and host noise behind those numbers.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid
from multiprocessing import resource_tracker

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORKLOADS = ("extract_bulk", "extract_skew", "curate_dups")
MAX_REPS = 20
# no new repetition starts once a run is this old (a run must end within 180 s)
DEADLINE_S = 120.0
# a traced run skips its layer probes once it is this old, rather than
# overrun the 180 s (curation's probes take ~25 s, its check ~2 s)
PROBE_DEADLINE_S = 120.0

# layers each workload runs; the others report 0 and are listed as absent
LAYERS = {
    "extract_bulk": ("job", "python", "tables", "extract", "classify", "salted",
                     "checkpoint", "spark", "cache", "trace"),
    "extract_skew": ("job", "python", "tables", "extract", "classify", "salted",
                     "checkpoint", "spark", "cache", "trace"),
    "curate_dups": ("job", "python", "quality", "dedup", "shaping", "curate",
                    "spark", "cache", "trace"),
}


# ------------------------------------------------------------ host probes


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg() -> float:
    with open("/proc/loadavg", encoding="ascii") as f:
        return float(f.read().split()[0])


def _stat(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first);
    None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        fields = _stat(entry) if entry.isdigit() else None
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids`` and their reaped children."""
    ticks = 0
    for pid in pids:
        fields = _stat(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _run_cpu_s() -> float:
    """User + system CPU seconds of this process, the JVM it launched and
    every process below them, reaped ones included."""
    t = os.times()
    return (t.user + t.system + t.children_user + t.children_system
            + _tree_cpu_s(_descendants(os.getpid())))


def _rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / 2**20


class RssSampler:
    """Peak summed RSS of this process's descendants: the driver JVM and
    its Python worker daemon and workers."""

    def __init__(self, interval: float = 0.1):
        self._interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_mb = 0.0

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _rss_mb(_descendants(me)))
            self._stop.wait(self._interval)

    def __enter__(self) -> RssSampler:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------- session


def _pin_environment(work: pathlib.Path, nproc: int) -> None:
    """Session shape and scratch locations, set before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_MASTER": f"local[{nproc}]",
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_SHUFFLE": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "SPARK_GRAFT_EXTRA_CONF": (
            "spark.ui.showConsoleProgress=false;"
            f"spark.sql.warehouse.dir={work / 'warehouse'}"
        ),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # no hsperfdata file in /tmp: the run writes only inside the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def _start_session(nproc: int):
    from perfbench import jobs
    from wordscape_spark.session import build_session

    spark = build_session(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    jobs.warm_workers(spark, nproc)
    return spark


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _drop_caches(spark) -> None:
    """Release every cached frame and persisted RDD (library functions
    leak persists that would otherwise warm the next repetition)."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


# ------------------------------------------------------------------ runs


class Run:
    def __init__(self, args, work: pathlib.Path, nproc: int, t_start: float):
        self.args = args
        self.t_start = t_start
        self.work = work
        self.nproc = nproc
        self.workload = args.workload
        self.is_extract = args.workload.startswith("extract")
        self.reps: list[dict] = []
        self.input_dir = ""
        self.props: dict = {}
        self.trace_records: list[dict] = []
        self.skipped: list[str] = []

    def job(self, spark, out: str, span=None) -> None:
        from perfbench import jobs

        kw = {} if span is None else {"span": span}
        if self.is_extract:
            jobs.extract(spark, self.input_dir, out,
                         jobs.extract_config(self.workload), **kw)
        else:
            jobs.curate(spark, self.input_dir, out, **kw)

    def timed_rep(self, spark, stores, span=None) -> dict:
        out = str(self.work / f"rep-{len(self.reps)}")
        _drop_caches(spark)
        rep = {"out": out, "error": None, "traced": span is not None}
        cpu0, host0 = _run_cpu_s(), _cpu_times()
        with RssSampler() as rss:
            t0 = time.monotonic()
            try:
                self.job(spark, out, span)
            except Exception:  # noqa: BLE001 — a failed job is a failed operation
                rep["error"] = traceback.format_exc(limit=5)
            rep["wall_s"] = time.monotonic() - t0
        rep["cpu_s"] = _run_cpu_s() - cpu0
        host = [b - a for a, b in zip(host0, _cpu_times())]
        rep["steal_frac"] = host[7] / sum(host) if sum(host) else 0.0
        rep["peak_rss_mb"] = rss.peak_mb
        rep["persisted_rdds_after"] = stores.persisted_rdds()
        self.reps.append(rep)
        return rep


def _out_bytes(out: str) -> int:
    return sum(p.stat().st_size for p in pathlib.Path(out).rglob("*.parquet"))


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _summary(xs: list[float]) -> dict:
    """Median, the highest percentile the sample supports and the count.
    With fewer than 11 samples no percentile has ten samples beyond it,
    so the maximum is given."""
    return {"median": _median(xs), "max": max(xs, default=0.0), "n": len(xs)}


def _traced(run: Run, spark, stores) -> dict:
    """One traced repetition, the run's first and cold one, as the untraced
    runs time it; then the layer probes.  Returns per-layer metrics."""
    from perfbench import sparkmetrics, tracing

    sc = spark.sparkContext

    def enter(s):
        sc.setJobGroup(s.span_id, s.name)

    def leave(s, parent):
        if parent is not None:
            sc.setJobGroup(parent.span_id, parent.name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)

    tracer = tracing.Tracer(on_enter=enter, on_exit=leave)
    with tracer.span("rep") as root:
        rep = run.timed_rep(spark, stores, span=tracer.span)
    if rep["error"]:
        return {}
    m: dict[str, float] = {
        "job.wall_s": rep["wall_s"],
        "job.peak_rss_mb": rep["peak_rss_mb"],
        "trace.overhead_s": tracer.overhead_s,
        "cache.persisted_rdds_after": rep["persisted_rdds_after"],
    }
    groups = _span_groups(tracer, root)
    m.update(stores.stage_totals(groups))
    execs = stores.executions(groups)
    m.update(sparkmetrics.layer_totals(
        [e.nodes for e in execs], os.path.abspath(run.input_dir)))
    if time.monotonic() - run.t_start > PROBE_DEADLINE_S:
        run.skipped.append("probes")
    else:
        probe = _extract_probes if run.is_extract else _curate_probes
        m.update(probe(run, spark, stores, tracer, rep, execs))
    run.trace_records = tracer.to_records()
    return m


def _span_groups(tracer, span) -> set[str]:
    """Job groups of a span and every span below it."""
    return {span.span_id} | {s.span_id for s in tracer.descendants(span)}


def _extract_probes(run: Run, spark, stores, tracer, rep, execs) -> dict:
    from perfbench import checks
    from wordscape_spark.sources.tables import read_docs

    job = tracer.find("checkpoint.run_extract_checkpointed")
    write_end = max(
        (e.end_ms for e in execs if e.end_ms is not None and any(
            n.name.startswith("Execute InsertIntoHadoopFsRelationCommand")
            for n in e.nodes.values())),
        default=None,
    )
    m = {
        "checkpoint.commit_s":
            job.end - write_end / 1e3 if write_end is not None else 0.0,
        "checkpoint.lineage_rows": len(checks.lineage(rep["out"])),
    }
    _drop_caches(spark)
    with tracer.span("probe.tables.scan") as s:
        read_docs(spark, run.input_dir).write.format("noop").mode(
            "overwrite").save()
    m["tables.scan_s"] = s.duration
    return m


def _curate_probes(run: Run, spark, stores, tracer, rep, execs) -> dict:
    """Each curation layer called on its own, on materialized input."""
    import pyspark.sql.functions as F

    from perfbench import jobs, sparkmetrics
    from wordscape_spark.operators import dedup as D
    from wordscape_spark.operators import quality_rules as QR
    from wordscape_spark.operators import shaping as SH
    from wordscape_spark.operators import text as T

    args = jobs.CURATE_ARGS
    m = {"curate.funnel_s": tracer.find("curate.funnel").duration,
         "curate.jobs": len(stores.jobs(_span_groups(tracer, tracer.find("rep"))))}
    _drop_caches(spark)
    docs = spark.read.parquet(run.input_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang", "text"
    ).withColumn("tokens", F.expr(T.token_exprs("text", "spark")["tokens_ws"]))
    with tracer.span("probe.quality") as s:
        quality = QR.gopher_quality(
            docs, min_words=args["min_words"], keep_cols=("lang", "text", "tokens"),
        ).filter("gopher_pass").select("doc_id", "lang", "text", "tokens").persist()
        quality.count()
    m["quality.self_s"] = s.duration
    with tracer.span("probe.dedup.exact") as s_exact:
        keep = D.exact_duplicate_groups(quality).select(
            F.col("keep_doc_id").alias("doc_id"))
        exact = quality.join(keep, "doc_id", "semi").persist()
        exact.count()
    with tracer.span("probe.dedup.minhash") as s_mh:
        pairs = D.minhash_duplicate_pairs(
            exact, threshold=args["jaccard_threshold"]).persist()
        pairs.count()
    with tracer.span("probe.dedup.clusters") as s_cl:
        clusters = D.duplicate_clusters(pairs)
    near = D.keep_cluster_representatives(exact, clusters).persist()
    near.count()
    with tracer.span("probe.shaping.budget") as s:
        SH.token_budget_sample(
            near, budget_per_lang=args["budget_per_lang"],
            n_streams=args["n_streams"],
        ).write.format("noop").mode("overwrite").save()
    m["shaping.budget_s"] = s.duration
    m["dedup.exact_s"] = s_exact.duration
    m["dedup.minhash_s"] = s_mh.duration
    m["dedup.cluster_jobs"] = len(stores.jobs(_span_groups(tracer, s_cl)))

    def totals(*spans) -> dict:
        groups = set().union(*(_span_groups(tracer, s) for s in spans))
        return sparkmetrics.layer_totals(
            [e.nodes for e in stores.executions(groups)], "")

    m["dedup.shuffle_mb"] = totals(s_exact, s_mh, s_cl).get("all.shuffle_mb", 0.0)
    m["dedup.broadcast_mb"] = totals(s_mh).get("all.broadcast_mb", 0.0)
    _drop_caches(spark)
    return m


def _check(run: Run) -> dict:
    """Verify every repetition; returns check-derived per-layer numbers."""
    from perfbench import checks, jobs

    reps = [r for r in run.reps if r["error"] is None]
    derived: dict[str, float] = {}
    if run.is_extract:
        with checks.pool(run.nproc) as workers:
            expected = checks.extract_expected(
                run.input_dir, jobs.extract_config(run.workload), workers)
            for rep in reps:
                rep["error"] = checks.extract_verify(rep["out"], expected, workers)
            workers.close()
            workers.join()
        derived["classify.kernel_s"] = expected.kernel_s
    else:
        args = dict(jobs.CURATE_ARGS)
        expected = checks.curate_expected(
            run.input_dir, jaccard=args.pop("jaccard_threshold"),
            threads=run.nproc, **args)
        for rep in reps:
            rep["error"] = checks.curate_verify(rep["out"], expected)
        derived["dedup.candidates"] = expected.candidates
        derived["dedup.verified"] = expected.verified
        derived["dedup.verify_yield"] = (
            expected.verified / expected.candidates if expected.candidates else 0.0
        )
        derived["quality.pass_ratio"] = expected.funnel[1][2] / expected.funnel[0][2]
    for rep in run.reps:
        rep["out_bytes"] = _out_bytes(rep["out"])
    return derived


def _report(run: Run, spec: dict, setup_s: float, per_layer: dict) -> dict:
    """Every metric ``BENCHMARK.json`` lists for this mode, with its unit."""
    ok = [r for r in run.reps if r["error"] is None]
    units = run.props.get("spans", run.props.get("tokens", 0))
    metrics = spec["per_layer" if run.args.trace else "end_to_end"]
    if run.args.trace:
        present = LAYERS[run.workload]
        values = {m["name"]: float(per_layer.get(m["name"], 0.0))
                  if m["name"].split(".")[0] in present else 0.0
                  for m in metrics}
    else:
        cpu = _median([r["cpu_s"] for r in ok])
        values = {
            "setup_s": setup_s,
            "cpu_s": cpu,
            "docs_per_cpu_s": run.props["docs"] / cpu if cpu else 0.0,
            "spans_per_cpu_s": units / cpu if cpu else 0.0,
            "out_bytes_per_in_byte": _median(
                [r["out_bytes"] for r in ok]) / run.props["bytes"],
            "ok_ratio": (len(run.reps) - sum(r["error"] is not None
                                             for r in run.reps)) / len(run.reps),
        }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in metrics}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    pkg = importlib.util.find_spec("wordscape_spark")
    if pkg is None or not pkg.origin or not pathlib.Path(
            pkg.origin).resolve().is_relative_to(ROOT):
        print(f"perfbench: no wordscape_spark package under {ROOT}; run from "
              "the root of a wordscape_spark checkout", file=sys.stderr)
        return 2

    t_run = time.monotonic()
    nproc = len(os.sched_getaffinity(0))
    state = ROOT / ".perfbench"
    work = state / f"run-{uuid.uuid4().hex[:12]}"
    _pin_environment(work, nproc)
    from perfbench import inputs

    run = Run(args, work, nproc, t_run)
    spark = None
    try:
        t0 = time.monotonic()
        run.input_dir, run.props = inputs.prepare(
            args.workload, args.seed, state / "inputs", nproc
        )
        input_s = time.monotonic() - t0
        if run.is_extract:
            import pyarrow.parquet as pq

            from perfbench import jobs

            limit = jobs.extract_config(args.workload).salt_threshold
            sizes = pq.read_table(run.input_dir, columns=["n_spans"])["n_spans"]
            run.props["docs_above_salt_threshold"] = sum(
                n > limit for n in sizes.to_pylist())
        cpu0, load0 = _cpu_times(), _loadavg()

        from perfbench import sparkmetrics

        # one cold set-up: the JVM launch, the session and one Python worker
        # per core, as a scripts/run_*.py job pays it.  Like the job, it is
        # timed in CPU seconds: its wall time doubles when co-tenants load
        # the host, its CPU time moves far less (README.md, Noise)
        t0, cpu_setup0 = time.monotonic(), _run_cpu_s()
        spark = _start_session(nproc)
        setup_s = _run_cpu_s() - cpu_setup0
        setup_wall_s = time.monotonic() - t0
        stores = sparkmetrics.StatusStores(spark)

        t_measure = time.monotonic()
        per_layer: dict[str, float] = {}
        if args.trace:
            per_layer = _traced(run, spark, stores)
        while not args.trace and len(run.reps) < MAX_REPS:
            rep = run.timed_rep(spark, stores)
            now = time.monotonic()
            if (rep["error"] or now - t_measure >= args.seconds
                    or now - t_run + rep["wall_s"] > DEADLINE_S):
                break
        _stop_jvm(spark)
        spark = None
        cpu1, load1 = _cpu_times(), _loadavg()
        t_check = time.monotonic()
        per_layer.update(_check(run))
        phases = {"input": input_s, "setup": setup_wall_s,
                  "measure": t_check - t_measure,
                  "check": time.monotonic() - t_check}
        failed = sum(r["error"] is not None for r in run.reps)
        spec = json.loads((ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))
        metrics = _report(run, spec, setup_s, per_layer)
        dt = [b - a for a, b in zip(cpu0, cpu1)]
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": nproc,
            "input": {"dir": os.path.relpath(run.input_dir, ROOT),
                      "gen_s": input_s, **run.props},
            "setup_s": setup_s,
            "setup_wall_s": setup_wall_s,
            "phase_s": phases,
            "reps": [{k: r.get(k) for k in ("wall_s", "cpu_s", "steal_frac",
                                            "peak_rss_mb",
                                            "persisted_rdds_after",
                                            "out_bytes", "traced", "error")}
                     for r in run.reps],
            **{key: _summary([r[key] for r in run.reps])
               for key in ("wall_s", "cpu_s", "peak_rss_mb")},
            "host": {"loadavg_start": load0, "loadavg_end": load1,
                     "steal_frac": dt[7] / sum(dt) if sum(dt) else 0.0},
            "absent_layers": sorted(
                {m["name"].split(".")[0] for m in spec["per_layer"]}
                - set(LAYERS[args.workload])),
            "skipped": run.skipped,
            "spans": run.trace_records,
        }
        print(json.dumps(detail, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(run.reps),
            "failed": failed,
            "metrics": metrics,
        }))
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            _stop_jvm(spark)
        # the helper process multiprocessing starts for spawned pools
        resource_tracker._resource_tracker._stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
