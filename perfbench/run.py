"""Seeded benchmark for the geospark engine.

    python3 perfbench/run.py --workload pip_join --seed 1 --seconds 20 \
        --trace 0

Run from the repository root. One process, one Spark session on
``local[<cores - 1>]``, one client: a closed loop in which each operation of
a workload starts when the previous one has finished, pass after pass,
until ``--seconds`` have been measured. Every operation's result is
reduced to a digest and checked against a reference computed by DuckDB
or NumPy over the same stored inputs.

Two untimed warm-up passes precede the timed ones. ``--trace 0`` prints
the end-to-end metrics. ``--trace 1`` spends half of the window
untraced and half traced (spans plus Spark's status stores read after
each operation), then times the kernels directly, and prints the
per-layer metrics, including the traced/untraced overhead.
The last line of standard output is one JSON object; the lines before it
describe the run (samples, percentiles, host noise, conf). A full report
with every span is written under ``.perfbench/``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from contextlib import contextmanager  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import geospark  # noqa: E402,F401  (fail fast outside a checkout)

from perfbench import kernels, session  # noqa: E402
from perfbench.layers import METRICS as LAYER_METRICS  # noqa: E402
from perfbench.trace import SparkStats, Tracer, self_time  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median
# the first pass after a single warm-up pass still used ~30% more CPU
# than the next one (JIT compilation), so two passes run untimed
WARMUP_PASSES = 2
WORK = os.path.join(ROOT, ".perfbench")

E2E = {"setup_s": "s", "pass_s": "s", "rows_per_s": "1/s",
       "live_heap_mb": "MB"}
STAGE_KEYS = ("stages", "tasks", "task_s", "jvm_cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb",
              "output_mb", "failed_tasks")
PY_KEYS = ("python_nodes", "py_worker_s", "py_init_s", "py_rows",
           "py_mb_sent", "py_mb_recv", "boundary_s")


def tail_percentile(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    p = 1.0 - 10.0 / n
    s = sorted(values)
    return {"p": round(100 * p, 1), "value": s[min(n - 1, int(p * n))]}


class Run:
    """State of one benchmark run: passes, checks, spans and counters."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.tracer = Tracer()
        self.stats = SparkStats(spark) if trace else None
        self.traced = False
        self.pass_no = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[dict] = []
        self._groups: list[str] = []
        self._group = None
        self._ckpt: list[dict] = []
        self.kernel_ns: dict = {}

    # -- hooks the workloads call -------------------------------------
    def _set_group(self, g: str) -> None:
        if self.traced:
            self._groups.append(g)
            self.spark.sparkContext.setJobGroup(g, g)
        self._group = g

    @contextmanager
    def checkpoint(self, stage: str):
        """One checkpoint stage commit (or skip) inside an op call."""
        outer = self._group
        self._set_group(f"{outer}:ckpt:{stage}")
        try:
            with self._span("checkpoint.commit", stage=stage):
                yield
        finally:
            self._set_group(outer)

    def checkpoint_report(self, report: list[dict]) -> None:
        self._ckpt = report

    @contextmanager
    def codec(self, name: str):
        with self._span("codec", call=name):
            yield

    @contextmanager
    def _span(self, name: str, **attrs):
        if not self.traced:
            yield None
            return
        with self.tracer.span(name, **attrs) as s:
            yield s

    # -- one operation --------------------------------------------------
    def run_op(self, op, expected) -> dict:
        op_id = f"p{self.pass_no}:{op.name}"
        self.tracer.op_id = op_id
        self._groups, self._ckpt = [], []
        rec = {"op": op.name, "pass": self.pass_no, "traced": self.traced}
        t0 = time.monotonic()
        with self._span("op", op=op.name) as sp:
            try:
                self._set_group(f"{op_id}:call")
                with self._span("operators.call"):
                    t1 = time.monotonic()
                    res = op.call()
                    rec["call_s"] = time.monotonic() - t1
                self._set_group(f"{op_id}:action")
                with self._span("action"):
                    t1 = time.monotonic()
                    rec["digest"] = list(op.action(res))
                    rec["action_s"] = time.monotonic() - t1
            except Exception:
                rec["error"] = traceback.format_exc(limit=8)
        rec["wall_s"] = time.monotonic() - t0
        if sp is not None:
            rec["span"] = sp["id"]
        self.tracer.op_id = None
        if self.traced:
            self.spark.sparkContext.setJobGroup("", "")
            self._read_stats(op, rec)
        self.check(rec, expected)
        return rec

    def check(self, rec: dict, expected) -> None:
        """Count the op; a failure is an exception or a wrong digest.
        ``expected`` None defers the check (warm-up before the
        reference exists)."""
        if expected is None and "error" not in rec:
            return
        ok = "error" not in rec and rec.get("digest") == list(expected)
        rec["ok"] = ok
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append({k: rec.get(k) for k in
                                ("op", "pass", "digest", "error")}
                               | {"expected": expected})

    def _read_stats(self, op, rec: dict) -> None:
        st = self.stats
        st.drain()
        groups = self._groups
        jobs = st.job_ids(groups)
        call_groups = [g for g in groups if ":action" not in g]
        ckpt_groups = [g for g in groups if ":ckpt:" in g]
        rec["jobs"] = len(jobs)
        rec["side_jobs"] = len(st.job_ids(call_groups))
        rec["ckpt_jobs"] = len(st.job_ids(ckpt_groups))
        rec["spark"] = st.stages(jobs)
        py = st.python_nodes(jobs)
        chain_ns = sum(self.kernel_ns.get(k, 0.0) for k in op.chain)
        py["boundary_s"] = py["py_worker_s"] - op.chain_rows * chain_ns / 1e9
        rec["python"] = py
        rec["ckpt_report"] = self._ckpt

    # -- passes -----------------------------------------------------------
    def run_pass(self, ops, refs) -> dict:
        self.pass_no += 1
        cpu0 = session.tree_cpu_s(os.getpid())
        t0 = time.monotonic()
        with self._span("pass", pass_no=self.pass_no) as sp:
            recs = [self.run_op(op, None if refs is None else refs[op.name])
                    for op in ops]
        out = {"pass": self.pass_no, "wall_s": time.monotonic() - t0,
               "cpu_s": session.tree_cpu_s(os.getpid()) - cpu0,
               "traced": self.traced, "ops": recs}
        if sp is not None:
            out["span"] = sp["id"]
        return out


# ---------------------------------------------------------------------------
# corpus check
# ---------------------------------------------------------------------------

def corpus_check(spark, corpus_path: str) -> dict:
    """Every roundtrip-corpus fixture through to_geoarrow/from_geoarrow,
    one conversion per (type, dims) group; the WKB that comes back must
    be byte-identical."""
    import pyarrow as pa

    from geospark.functions.encoding import from_geoarrow, to_geoarrow
    t0 = time.monotonic()
    with open(corpus_path) as f:
        rows = json.load(f)
    groups: dict = {}
    for i, r in enumerate(rows):
        wkb = bytes.fromhex(r["wkb_hex"]) if r["wkb_hex"] else None
        dims = "xyz" if " Z " in f" {r['wkt']} " else "xy"
        groups.setdefault((r["suite"], dims), []).append((i, wkb))
    got = {}
    for (ext, dims), items in sorted(groups.items()):
        df = spark.createDataFrame(pa.table({
            "i": pa.array([i for i, _ in items], pa.int32()),
            "wkb": pa.array([w for _, w in items], pa.binary())}))
        back = from_geoarrow(to_geoarrow(df, "wkb", ext, dims=dims),
                             "geom", ext, dims=dims)
        got.update((r["i"], None if r["wkb"] is None else bytes(r["wkb"]))
                   for r in back.collect())
    bad = [i for items in groups.values() for i, w in items
           if got.get(i, b"?") != w]
    return {"fixtures": len(rows), "mismatched": bad,
            "seconds": time.monotonic() - t0}


# ---------------------------------------------------------------------------
# aggregation
# ---------------------------------------------------------------------------

def _median(values):
    return statistics.median(values) if values else 0.0


def _sum(ops: list[dict], field: str, key: str | None = None) -> float:
    """Sum of one per-op record field (or one key of a dict field)."""
    if key is None:
        return sum(r.get(field, 0.0) for r in ops)
    return sum(r.get(field, {}).get(key, 0.0) for r in ops)


def layer_row(p: dict, spans: list[dict]) -> dict:
    """Per-layer metrics of one traced pass: sums over its ops."""
    ops = p["ops"]
    m = {"operators.call_s": _sum(ops, "call_s"),
         "operators.side_jobs": _sum(ops, "side_jobs"),
         "operators.action_s": _sum(ops, "action_s"),
         "spark.jobs": _sum(ops, "jobs")}
    for k in STAGE_KEYS:
        m[f"spark.{k}"] = _sum(ops, "spark", k)
    m["spark.core_busy_frac"] = m["spark.task_s"] / max(
        _sum(ops, "wall_s") * session.task_slots(), 1e-9)
    for k in PY_KEYS:
        m[f"functions.{k}"] = _sum(ops, "python", k)
    ck = [r for r in ops if r["op"] == "pipeline_commit"]
    commits = [s for s in spans if s["name"] == "checkpoint.commit"
               and s["op_id"] == f"p{p['pass']}:pipeline_commit"]
    m["sources.checkpoint.commit_s"] = sum(s["end"] - s["start"]
                                           for s in commits)
    m["sources.checkpoint.commit_jobs"] = _sum(ck, "ckpt_jobs")
    m["sources.checkpoint.mb_written"] = sum(
        s["n_bytes"] / 1e6 for r in ck for s in r.get("ckpt_report", [])
        if not s["skipped"])
    m["sources.checkpoint.resume_s"] = sum(
        r["wall_s"] for r in ops if r["op"] == "resume")
    m["trace.unattributed_frac"] = (self_time(spans, p["span"])
                                    / max(p["wall_s"], 1e-9))
    return m


def reconcile(p: dict, spans: list[dict]) -> dict:
    """A traced pass against its op spans: the pass span's self time
    is the wall no op span covers (status-store reads, loop)."""
    ps = spans[p["span"]]
    ops_s = sum(spans[r["span"]]["end"] - spans[r["span"]]["start"]
                for r in p["ops"])
    return {"pass": p["pass"], "pass_s": ps["end"] - ps["start"],
            "op_spans_s": ops_s, "gap_s": self_time(spans, p["span"])}


def per_op_layers(passes: list[dict]) -> dict:
    """Median over traced passes of every per-op layer figure."""
    by: dict = {}
    for p in passes:
        for r in p["ops"]:
            flat = {"call_s": r.get("call_s", 0.0),
                    "action_s": r.get("action_s", 0.0),
                    "side_jobs": r.get("side_jobs", 0),
                    "jobs": r.get("jobs", 0),
                    "ckpt_jobs": r.get("ckpt_jobs", 0),
                    **{f"spark.{k}": v for k, v in r.get("spark", {}).items()},
                    **{f"functions.{k}": v
                       for k, v in r.get("python", {}).items()}}
            by.setdefault(r["op"], []).append(flat)
    return {op: {k: _median([f[k] for f in rows]) for k in rows[0]}
            for op, rows in by.items()}


def per_op_summary(passes: list[dict]) -> dict:
    by: dict = {}
    for p in passes:
        for r in p["ops"]:
            by.setdefault(r["op"], []).append(r["wall_s"])
    return {op: {"median_s": _median(v), "n": len(v),
                 "tail": tail_percentile(v)} for op, v in by.items()}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def _reference(wl, paths: dict, data_dir: str) -> tuple[dict, float]:
    """Once per (workload, seed, size) and version of the benchmark's
    input and reference code: cached beside the inputs. Returns the
    digests and the seconds spent computing them."""
    t0 = time.monotonic()
    h = hashlib.sha1()
    for name in ("inputs.py", "reference.py", "digest.py", "workloads.py"):
        with open(os.path.join(ROOT, "perfbench", name), "rb") as f:
            h.update(f.read())
    path = os.path.join(data_dir, f"reference-{h.hexdigest()[:12]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f), 0.0
    refs = {k: list(v) for k, v in wl.reference(paths).items()}
    with open(path, "w") as f:
        json.dump(refs, f)
    return refs, time.monotonic() - t0


def _between_passes(spark, paths: dict) -> None:
    """Untimed: drop what a pass left cached or on disk, so every pass
    starts from the same state."""
    spark.catalog.clearCache()
    if "stores" in paths:
        shutil.rmtree(paths["stores"], ignore_errors=True)


def _timed_passes(run: Run, ops, refs, paths, seconds: float) -> list[dict]:
    passes = []
    t0 = time.monotonic()
    while not passes or time.monotonic() - t0 < seconds:
        passes.append(run.run_pass(ops, refs))
        _between_passes(run.spark, paths)
    return passes


def _prepare_env() -> None:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["_JAVA_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                   "-XX:-UsePerfData")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    _prepare_env()
    host0 = session.host_sample()
    data_dir = os.path.join(WORK, f"{wl.name}-{args.size}-s{args.seed}")
    os.makedirs(data_dir, exist_ok=True)

    # set-up: session plus seeded inputs, three times so setup_s is a
    # median (later set-ups restart the context in the same JVM; the
    # first also pays the interpreter, the JVM launch and the imports)
    setups, spark = [], None
    for k in range(SETUPS):
        t0 = T_START if k == 0 else time.monotonic()
        if spark is not None:
            spark.stop()
        spark = session.start(WORK)
        paths = wl.prepare(data_dir, args.seed, args.size)
        setups.append(time.monotonic() - t0)
    run = Run(spark, trace)
    ops = wl.ops(spark, paths, run)
    # untimed warm-up passes (class loading, code generation, JIT, Python
    # workers); meanwhile another thread computes the reference (DuckDB
    # and NumPy) and runs the corpus check, so that neither lands in
    # setup_s or a timed pass nor lengthens the run by its own time
    t0 = time.monotonic()
    with ThreadPoolExecutor(1) as pool:
        ref_future = pool.submit(_reference, wl, paths, data_dir)
        corpus_future = pool.submit(
            corpus_check, spark,
            os.path.join(ROOT, "tests", "goldens", "roundtrip_corpus.json")
        ) if wl.corpus else None
        warm = [run.run_pass(ops, None)]
        _between_passes(spark, paths)
        refs, reference_s = ref_future.result()
        corpus = corpus_future.result() if corpus_future else None
    for rec in warm[0]["ops"]:
        if "error" not in rec:
            run.check(rec, refs[rec["op"]])
    if corpus is not None:
        run.attempted += 1
        if corpus["mismatched"]:
            run.failed += 1
            run.errors.append({"op": "corpus_roundtrip",
                               "mismatched": corpus["mismatched"]})
    while len(warm) < WARMUP_PASSES:
        warm.append(run.run_pass(ops, refs))
        _between_passes(spark, paths)
    warmup_s = time.monotonic() - t0
    conf = session.effective_conf(spark)
    # after a fixed amount of work: Spark's status stores keep a record of
    # every job, so the heap grows with the number of passes a window holds
    live_heap = session.live_heap_mb(spark)

    if trace:
        half = args.seconds / 2.0
        plain = _timed_passes(run, ops, refs, paths, half)
        run.traced = True
        run.kernel_ns = kernels.measure(*wl.kernel_inputs(paths))
        traced = _timed_passes(run, ops, refs, paths, half)
        run.traced = False
        overhead = (_median([p["wall_s"] for p in traced])
                    / _median([p["wall_s"] for p in plain]) - 1.0)
        passes = plain + traced
    else:
        passes = _timed_passes(run, ops, refs, paths, args.seconds)
    peak_rss = session.tree_peak_rss_mb(os.getpid())

    n_rows = wl.input_rows(paths)
    session.stop(spark)
    host = session.host_record(host0, session.host_sample())

    timed = [p for p in passes if not p["traced"]]
    pass_walls = [p["wall_s"] for p in timed]
    pass_s = _median(pass_walls)
    extra = {}
    if trace:
        traced = [p for p in passes if p["traced"]]
        extra["reconcile"] = [reconcile(p, run.tracer.spans) for p in traced]
        extra["op_layers"] = per_op_layers(traced)
        rows = [layer_row(p, run.tracer.spans) for p in traced]
        metrics = {k: _median([m[k] for m in rows]) for k in rows[0]}
        metrics.update(run.kernel_ns)
        metrics.update({k: host[k] for k in ("host.steal_frac",
                                             "host.loadavg")})
        metrics["trace_overhead_frac"] = overhead
        units = {k: v[0] for k, v in LAYER_METRICS.items()}
        metrics = {k: metrics[k] for k in LAYER_METRICS}
    else:
        metrics = {"setup_s": _median(setups), "pass_s": pass_s,
                   "rows_per_s": n_rows / pass_s,
                   "live_heap_mb": live_heap}
        units = E2E

    summary = {
        "workload": wl.name, "seed": args.seed, "size": args.size,
        "trace": int(trace), "input_rows": n_rows,
        "setups_s": setups, "warmup_s": warmup_s,
        "reference_s": reference_s, "passes_s": pass_walls,
        "samples": {"setup_s": len(setups), "pass_s": len(pass_walls),
                    "rows_per_s": len(pass_walls)},
        "pass_tail": tail_percentile(pass_walls),
        "ops": per_op_summary(timed),
        "failed_frac": run.failed / max(run.attempted, 1),
        "corpus": corpus, "errors": run.errors[:20],
        "host": host, "cores": session.cores(),
        "task_slots": session.task_slots(),
        "mem_total_mb": session.mem_total_mb(),
        "peak_rss_mb": peak_rss,
        "passes_cpu_s": [p["cpu_s"] for p in timed],
        **extra,
    }
    os.makedirs(WORK, exist_ok=True)
    report = dict(summary, conf=conf, metrics=metrics, warmup=warm,
                  kernel_ns=run.kernel_ns,
                  layers=LAYER_METRICS if trace else None,
                  passes=passes,
                  spans=run.tracer.spans)
    with open(os.path.join(WORK, f"report-{wl.name}-s{args.seed}"
                                 f"-t{int(trace)}.json"), "w") as f:
        json.dump(report, f, default=str)

    print(json.dumps({"summary": {k: summary[k] for k in (
        "workload", "seed", "input_rows", "setups_s", "warmup_s",
        "reference_s", "passes_s", "passes_cpu_s", "samples", "pass_tail",
        "ops", "failed_frac", "peak_rss_mb", "corpus",
        "errors", *extra)}}, default=str))
    print(json.dumps({"host": host}))
    print(json.dumps({"conf": conf}))
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
