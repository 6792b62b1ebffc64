#!/usr/bin/env python3
"""Crawl->publish benchmark of the ids-spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_bulk --seed 3 --seconds 15 --trace 0

One process drives one workload at ``local[<cpus>]`` through the
engine's public calls, checks the outputs against the sequential
oracle outside the timed region, and prints every metric by name and
unit; the last line of stdout is one JSON object.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` runs the same workload
with Spark's event log on and reports the per-layer metrics (see
perfbench/README.md).  Spans of a traced run are written to
``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import evlog  # noqa: E402
import probes  # noqa: E402
from workloads import WORKLOADS, Runner, gate, start_date  # noqa: E402

PACKAGE = "indigent_defense_stats_spark"
ENGINE = os.path.join(PACKAGE, "plans", "frontier.py")
TMP_ROOT = ".perfbench_tmp"
OUT_DIR = ".perfbench_out"
DRIVER_MEM = "2g"
# fixed heap and young-generation sizes: with G1 left to size them, the
# JVM's resident peak followed its GC-time heuristics, which follow the
# host's CPU contention, and moved by up to 400 MB between runs
JVM_SIZING = f"-Xms{DRIVER_MEM} -Xmn512m"
# the child run and the traced run together must end within 180 s
CHILD_TIMEOUT_S = 90
TABLES = (
    "frontier", "seen", "bloom", "documents", "fetch_log", "metrics",
    "host_state", "commits", "published",
)

E2E = {
    "setup_s": "s",
    "crawl_urls_per_s": "1/s",
    "op_p50_s": "s",
    "fetch_ok_ratio": "ratio",
    "op_ok_ratio": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "synth.fetch_ms_per_page": "ms",
    "frontier.fetch_s": "s",
    "frontier.python_bytes": "B",
    "frontier.fetch_task_skew": "ratio",
    "frontier.expand_dedup_s": "s",
    "frontier.other_s": "s",
    "frontier.driver_s": "s",
    "frontier.jobs_per_wave": "count",
    "frontier.tasks_per_wave": "count",
    "frontier.waves": "count",
    "frontier.discovery_yield": "ratio",
    "frontier.attempts_per_fetch": "ratio",
    "bloom.fp_rate": "ratio",
    "bloom.state_bytes": "B",
    **{f"catalog.bytes_written.{t}": "B" for t in TABLES},
    **{f"catalog.files_written.{t}": "count" for t in TABLES},
    "catalog.bytes_per_fetch": "B",
    "catalog.write_s": "s",
    "parse.s": "s",
    "parse.quarantine_ratio": "ratio",
    "clean.s": "s",
    "clean.keep_ratio": "ratio",
    "publish.s": "s",
    "publish.skip_ratio": "ratio",
    "publish.history_rows": "count",
    **{
        f"{layer}.{m}": u
        for layer in evlog.SPARK_LAYERS
        for m, u in (
            ("shuffle_bytes", "B"), ("gc_s", "s"),
            ("spill_bytes", "B"), ("sched_wait_s", "s"),
        )
    },
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
    "trace.unaccounted_s": "s",
}

# per-op self times that make up an op's wall time
SELF_TIMES = (
    "frontier.fetch_s", "frontier.expand_dedup_s", "frontier.other_s",
    "frontier.driver_s", "catalog.write_s", "parse.s", "clean.s", "publish.s",
)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (SparkSession.stop leaves the gateway process running)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _code_digest(root: str) -> str:
    """Digest of the engine's and the benchmark's Python sources, so
    that untraced records are only compared with runs of the same code."""
    h = hashlib.sha256()
    for d in (PACKAGE, os.path.relpath(HERE, root)):
        for p in sorted(glob.glob(os.path.join(root, d, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _untraced_p50(args, root: str, code: str) -> float:
    """Median op_p50_s of the untraced runs of this workload recorded
    in OUT_DIR for the same code; with none recorded, of an untraced
    child run made now."""
    out = os.path.join(root, OUT_DIR)

    def recorded() -> list[float]:
        p50s = [
            _load_untraced(os.path.join(out, n), code)
            for n in os.listdir(out)
            if n.startswith(f"{args.workload}-seed") and n.endswith("-untraced.json")
        ]
        return [p for p in p50s if p is not None]

    if not recorded():
        # its own session, so that a timeout stops its JVM and workers too
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            cwd=root, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            start_new_session=True,
        )
        try:
            child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            shutil.rmtree(os.path.join(root, TMP_ROOT, f"run-{child.pid}"),
                          ignore_errors=True)
    p50s = recorded()
    if not p50s:
        raise RuntimeError("the untraced baseline run failed")
    return median(p50s)


def _load_untraced(path: str, code: str) -> float | None:
    """A record's op_p50_s, if it was made by the same code."""
    try:
        with open(path) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return None
    return rec["op_p50_s"] if rec.get("code") == code else None


def _percentile_note(durations: list[float]) -> str:
    n = len(durations)
    if n < 21:
        return f"n={n}; no percentile above p50 has 10 samples beyond it"
    p = math.floor((1 - 10 / n) * 100)
    k = min(n - 1, math.ceil(p / 100 * n) - 1)
    return f"n={n}; p{p}={sorted(durations)[k]:.4f}s"


def run(args, wl, root: str, t_start: float) -> dict:
    """One run of the workload; set-up is timed from *t_start*."""
    # read by synth once per interpreter and inherited by the JVM and
    # its Python workers, so it is set before the JVM starts
    os.environ["SPARK_GRAFT_CASE_POOL_SCALE"] = str(wl.pool_scale)
    # a bounded driver heap: the default 8g grows to a different size
    # on every run, which makes peak memory unsteady
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tmp_root = os.path.join(root, TMP_ROOT)
    run_dir = os.path.join(tmp_root, f"run-{os.getpid()}")
    sys_tmp = tempfile.gettempdir()
    root_before = probes.dir_bytes(tmp_root)
    tmp_before = probes.tmp_entries(sys_tmp)
    local_dir = os.path.join(run_dir, "spark-local")
    py_tmp = os.path.join(run_dir, "tmp")
    for d in (local_dir, py_tmp):
        os.makedirs(d)
    # keep every temp file of this run (Python, JVM, Spark) in run_dir
    os.environ["TMPDIR"] = py_tmp
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    tempfile.tempdir = py_tmp
    conf = {
        "spark.local.dir": local_dir,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={py_tmp} {JVM_SIZING}",
        "spark.ui.showConsoleProgress": "false",
    }
    ev_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(ev_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + ev_dir,
        })
    sys.path.insert(0, root)
    from indigent_defense_stats_spark.session import get_spark

    start = start_date(args.seed)
    spans = evlog.Spans()
    res: dict = {"errors": []}
    ops: list[dict] = []
    rss = probes.PeakRss()
    with spans.span("session"):
        # shuffle partitions by session.py's rule of thumb (2-3x the
        # cores) instead of its fixed small-cluster default of 32
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{_cpus()}]",
            shuffle_partitions=2 * _cpus(),
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
    try:
        runner = Runner(spark, wl, run_dir, start, spans)
        res["setup_s"] = time.time() - t_start
        rss.sample()
        ops = runner.ops
        t_timed = time.time()
        for _ in range(wl.n_ops(args.seconds)):
            # files written per op, walked outside the op's timing
            before = {}
            if args.trace and not wl.bulk:
                before = probes.tree_files(runner.base_dir())
            rec = runner.op()
            rss.sample()
            if args.trace and not rec["error"]:
                rec["written"] = _written(runner, before)
            if rec["error"]:
                res["errors"].append(rec["error"])
                break
            if runner.done():
                runner.ops.pop()  # the budgeted crawl ran dry: no wave ran
                break
        res["phases"] = {"setup": res["setup_s"], "timed": time.time() - t_timed}
        t_gate = time.time()
        try:
            res["gate"] = gate(spark, wl, runner.engine, start, ops[-1])
            res["gate_ok"] = True
        except Exception as ex:  # a gate that cannot finish fails too
            res["gate_ok"] = False
            res["errors"].append(f"gate: {type(ex).__name__}: {ex}")
        if args.trace:
            eng = runner.engine
            res["bloom_fp"], res["bloom_bytes"] = probes.bloom_fp_rate(spark, eng)
            # the fetch log of the engine still on disk: the last op's
            # crawl (bulk) or every tick of the resumable crawl (trickle)
            waves = {w for r in ops[-1 if wl.bulk else 0:] for w in r.get("wave_ids", [])}
            res["attempts_per_fetch"] = probes.attempts_per_fetch(eng, waves)
            res["synth_ms"] = probes.synth_fetch_ms(start, wl.counties, wl.days)
        res["phases"]["gate+probes"] = time.time() - t_gate
        rss.sample()
        res["peak_rss_mb"] = rss.total_mb()
        res["rss_by_process"] = rss.by_name_mb()
    finally:
        _stop_spark(spark)
        if args.trace:
            res["events"] = evlog.load_events(ev_dir)
        shutil.rmtree(run_dir, ignore_errors=True)
    res["ops"] = ops
    res["spans"] = spans
    if probes.dir_bytes(tmp_root) > root_before:
        res["errors"].append(f"hygiene: {TMP_ROOT} grew across the run")
    leaked = probes.tmp_entries(sys_tmp) - tmp_before
    if leaked:
        res["errors"].append(f"hygiene: left in {sys_tmp}: {sorted(leaked)}")
    return res


def _written(runner, before: dict[str, int]) -> dict:
    base = runner.base_dir()
    out = probes.written_by_table(before, probes.tree_files(base), base)
    pub = os.path.join(os.path.dirname(base), "published")
    if runner.wl.bulk and os.path.isdir(pub):
        files = probes.tree_files(pub)
        out["published"] = [sum(files.values()), len(files)]
    return out


def _failed_ops(res: dict) -> int:
    """Ops that raised; every op of the run when the gate failed."""
    if not res.get("gate_ok"):
        return len(res["ops"])
    return sum(1 for r in res["ops"] if r["error"])


def end_to_end(wl, res: dict) -> dict:
    ops = res["ops"]
    dur = [r["t1"] - r["t0"] for r in ops]
    fetched = sum(r.get("fetched", 0) for r in ops)
    failed_fetch = sum(r.get("failed", 0) for r in ops)
    if wl.bulk:
        work = fetched + sum(r.get("parsed", 0) for r in ops)
        span = sum(r.get("t_parsed", r["t1"]) - r["t0"] for r in ops)
    else:
        work, span = fetched, sum(dur)
    return {
        "setup_s": res["setup_s"],
        "crawl_urls_per_s": work / max(span, 1e-9),
        "op_p50_s": median(dur) if dur else 0.0,
        "fetch_ok_ratio": 1 - failed_fetch / max(fetched + failed_fetch, 1),
        "op_ok_ratio": 1 - _failed_ops(res) / max(len(ops), 1),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(wl, res: dict, untraced_p50: float) -> tuple[dict, list[dict]]:
    ops = res["ops"]
    n = max(len(ops), 1)
    op_ids = [k for k, r in enumerate(res["spans"].rows) if r[0] == "op"]
    lay, exec_spans = evlog.attribute(res["events"], res["spans"], op_ids)
    tot = lambda key: sum(r.get(key, 0) for r in ops)  # noqa: E731
    waves, fetched = max(tot("waves"), 1), tot("fetched")
    m = {k: 0.0 for k in PER_LAYER}
    m.update({k: v for k, v in lay.items() if k in m})
    session = next(r for r in res["spans"].rows if r[0] == "session")
    m["session.start_s"] = session[2] - session[1]
    m["synth.fetch_ms_per_page"] = res["synth_ms"]
    m["frontier.jobs_per_wave"] = lay["_frontier_jobs"] / waves
    m["frontier.tasks_per_wave"] = lay["_frontier_tasks"] / waves
    m["frontier.waves"] = tot("waves") / n
    m["frontier.discovery_yield"] = tot("new_urls") / max(fetched, 1)
    m["frontier.attempts_per_fetch"] = res["attempts_per_fetch"]
    m["bloom.fp_rate"] = res["bloom_fp"]
    m["bloom.state_bytes"] = res["bloom_bytes"]
    all_bytes = 0
    for t in TABLES:
        b = sum(r.get("written", {}).get(t, [0, 0])[0] for r in ops)
        f = sum(r.get("written", {}).get(t, [0, 0])[1] for r in ops)
        m[f"catalog.bytes_written.{t}"] = b / n
        m[f"catalog.files_written.{t}"] = f / n
        all_bytes += b
    m["catalog.bytes_per_fetch"] = all_bytes / max(fetched, 1)
    if wl.bulk:
        parsed = max(tot("parsed"), 1)
        m["parse.quarantine_ratio"] = 1 - tot("parsed_good") / parsed
        m["clean.keep_ratio"] = tot("cleaned") / max(tot("parsed_good"), 1)
        m["publish.skip_ratio"] = 1 - tot("inserted") / max(tot("cleaned"), 1)
        m["publish.history_rows"] = tot("history_rows") / n
    dur = [r["t1"] - r["t0"] for r in ops]
    m["trace.op_p50_s"] = median(dur) if dur else 0.0
    m["trace.overhead_s"] = m["trace.op_p50_s"] - untraced_p50
    # the self times are means over the ops, so they are checked
    # against the mean op
    mean_op = sum(dur) / n
    m["trace.unaccounted_s"] = mean_op - sum(m[k] for k in SELF_TIMES)
    return m, exec_spans


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE)):
        print(f"perfbench: {ENGINE} not found; run from the repository root",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
    t_start = T_PROCESS
    untraced = 0.0
    code = _code_digest(root)
    if args.trace:
        untraced = _untraced_p50(args, root, code)
        t_start = time.time()  # the traced run's own set-up

    res = run(args, wl, root, t_start)
    e2e = end_to_end(wl, res)
    tag = f"{args.workload}-seed{args.seed}"
    if args.trace:
        metrics, exec_spans = per_layer(wl, res, untraced)
        units = PER_LAYER
        res["spans"].dump(os.path.join(root, OUT_DIR, f"spans-{tag}.json"), exec_spans)
    else:
        metrics, units = e2e, E2E
        if not res["errors"]:
            with open(os.path.join(root, OUT_DIR, f"{tag}-untraced.json"), "w") as f:
                json.dump({**e2e, "code": code}, f)
    ops = res["ops"]
    dur = [r["t1"] - r["t0"] for r in ops]
    alias = "time_to_publish_s" if wl.bulk else "wave_p50_s"
    print(f"# {args.workload} seed={args.seed} start={start_date(args.seed)}"
          f" ops={len(ops)} op_p50_s={alias} ({_percentile_note(dur)})")
    print("# op durations: " + " ".join(f"{d:.2f}" for d in dur))
    if res.get("gate_ok"):
        print("# gate: passed on " + ", ".join(f"{k}={v}" for k, v in res["gate"].items()))
    for k, v in metrics.items():
        print(f"#   {k} = {v:.6g} {units[k]}")
    print("# phases: " + " ".join(f"{k}={v:.1f}s" for k, v in res.get("phases", {}).items())
          + f" total={time.time() - t_start:.1f}s")
    print("# peak rss by process: " + " ".join(
        f"{k}=" + "+".join(f"{x:.0f}" for x in v) + "MB"
        for k, v in sorted(res.get("rss_by_process", {}).items())))
    for err in res["errors"]:
        print(f"# error: {err}")
    out = {
        "correct": not res["errors"],
        "attempted": max(len(ops), 1),
        "failed": _failed_ops(res) if ops else 1,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
