"""Replica-freshness benchmark for the manifest-store CDC replica.

    python3 perfbench/run.py --workload cdc_hot --seed 1 --seconds 12 --trace 0

Run from the repository root. One run is one workload in its own process:

1. start a session on ``local[2]``: fewer task slots than the host's 4
   cores, so the generator and the Python driver keep a core;
2. bootstrap a 250k-row manifest store in 25 files (``bootstrap_manifest_store``);
3. start the long-lived streaming merge (``start_replica_merge_manifest``,
   default trigger) over an empty source directory;
4. start the open-loop generator (``gen.py``, its own process) at 500
   events/s, 100 events per file. Events are warm-up until
   ``WARMUP_BATCHES`` micro-batches have committed (at most
   ``MAX_WARMUP_S`` seconds); the timed phase is the next ``--seconds``
   seconds of events, a fixed event count for a given ``--seconds``;
5. drain the stream, then measure freshness after the fact from files the
   engine writes anyway: the checkpoint's file-source log maps each batch
   to its files, and ``manifest/v<N>.json`` is written when batch N commits.
   Nothing polls the engine while it runs;
6. compare the replica (``read_replica_manifest``) key by key with the
   generator's expected state.

Both workloads use the op mix of the engine's ``generate_envelopes`` (see
``gen.py``), a chosen workload parameter rather than measured traffic.
``cdc_hot`` updates, inserts and deletes 2,000 clustered keys, so
a batch rewrites 1 of 25 files and its time is mostly fixed per-batch
overhead; ``cdc_uniform`` draws keys from the whole store, so every batch
rewrites every file and executor time is the larger share.

An operation is one timed event. It fails when it is never committed or
is committed more than ``FRESHNESS_LIMIT_S`` after its creation; every
replica key that differs from the expected state counts as one more
failure. The exit code is 1 when anything failed, 2 when the repository is
missing.

The last stdout line is one JSON object; the line before it gives the
number of timed batches next to freshness p50 and p90. ``--trace 0``
reports the end-to-end metrics. ``--trace 1`` registers the engine's
``ProgressRecorder``, reads job, task, stage and GC counts from the local
UI REST API, records spans around every public call, writes them with
per-layer self time to
``perfbench_out/trace-<workload>-s<seed>-slots<slots>.json`` and
reports the per-layer metrics. ``--slots 1`` gives the single-threaded
baseline, which is not gated. A health line (generator lateness, loadavg,
batch commit gaps) goes to stderr.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import urllib.request  # noqa: E402
from datetime import datetime, timezone  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

STORE_ROWS = 250_000
STORE_FILES = 25
HOT_KEYS = 2_000
RATE = 500  # events per second
PER_FILE = 100  # events per source file
# Warm-up micro-batches, counted in setup_s. Batch walls fall steeply over
# the first 4 batches (JIT) on both workloads and slowly after that.
# Counting batches instead of seconds starts every run's timed window at
# the same point of that slope; a fixed 18 s warm-up left 3 to 6 warm
# batches and a 2x spread in freshness. One more warm-up batch costs 2-4 s
# a run; that time is better spent on the timed window.
WARMUP_BATCHES = 4
# Bounds a run's length when the host is slow. A cap that cuts the warm-up
# short starts the timed window on the steep part of the slope, and so
# doubled freshness in runs that met a slow patch of the host early; at 40 s
# four warm-up batches fit even at twice the usual batch walls.
MAX_WARMUP_S = 40
FRESHNESS_LIMIT_S = 30.0
DEADLINE_S = 170  # a run still going after this fails
WORKLOADS = {"cdc_hot": "hot", "cdc_uniform": "uniform"}
# freshness_p90_ms is printed on the summary line but not gated: a run has
# 3 to 8 timed batches, and events of one batch share its commit, so less
# than one batch lies beyond p90.
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "freshness_p50_ms": "ms",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.bootstrap_manifest_store_s": "s",
    "streaming.batches": "count",
    "streaming.batch_wall_ms": "ms",
    "streaming.input_rows_per_batch": "count",
    "streaming.trigger_execution_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.tasks_per_batch": "count",
    "streaming.executor_run_ms_per_batch": "ms",
    "streaming.shuffle_write_kb_per_batch": "KB",
    "streaming.output_kb_per_batch": "KB",
    "streaming.read_replica_manifest_s": "s",
    "store.files_touched_fraction": "fraction",
    "store.files_total": "count",
    "jvm.gc_ms_per_batch": "ms",
}
# ProgressRecorder durationMs keys, in the order a micro-batch runs them:
# the offset log (walCommit) is written before the batch is planned and run
PHASES = {
    "latest_offset": "latestOffset",
    "wal_commit": "walCommit",
    "query_planning": "queryPlanning",
    "add_batch": "addBatch",
    "commit_offsets": "commitOffsets",
}


class Tracer:
    """Spans kept in memory and written once at exit. Every span is timed;
    only an enabled tracer keeps them, so the untraced run records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._open[-1] if self._open else None}
        if self.enabled:
            self._open.append(len(self.spans))
            self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if self.enabled:
                self._open.pop()

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        """Record a span measured elsewhere; returns its index."""
        self.spans.append({"name": name, "start": start, "end": end, "parent": parent})
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of it
        its children cover (children of one span do not overlap), summed
        by layer (the span name up to ``:``)."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                p = self.spans[s["parent"]]
                covered[s["parent"]] += max(
                    0.0, min(s["end"], p["end"]) - max(s["start"], p["start"])
                )
        out: dict[str, float] = {}
        for s, c in zip(self.spans, covered):
            layer = s["name"].split(":")[0]
            out[layer] = out.get(layer, 0.0) + s["end"] - s["start"] - c
        return out


def seconds(span: dict) -> float:
    return span["end"] - span["start"]


def quantile(values: list[float], q: float) -> float:
    v = sorted(values)
    return v[min(len(v) - 1, int(q * len(v)))]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def batch_files(ckpt: str) -> dict[str, int]:
    """File name → micro-batch id, from the checkpoint's file-source log
    (``sources/0/<N>`` and its ``<N>.compact`` roll-ups)."""
    d = os.path.join(ckpt, "sources", "0")
    out = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def commit_times(state: str) -> dict[int, float]:
    """Micro-batch id → commit time: the mtime of ``manifest/v<N>.json``,
    which the merge writes and renames into place as its commit."""
    d = os.path.join(state, "manifest")
    out = {}
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            v = int(name[1:-5])
            if v >= 0:  # negative versions are bootstraps
                out[v] = os.stat(os.path.join(d, name)).st_mtime
    return out


def rest(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def rest_time(s: str | None) -> float:
    if not s:
        return 0.0
    return (
        datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def driver_gc_ms(api: str) -> float:
    """Cumulative GC time of the JVM (in local mode the driver runs the tasks)."""
    return sum(e["totalGCTime"] for e in rest(f"{api}/executors"))


def start_session(args, work: str):
    from simple_cdc_service_spark.session import get_spark

    # the engine's own heap knob; its 8g default is sized for a large host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # keep the session's scratch files inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata files in the system temp directory, from the launcher
    # JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = get_spark(
        "perfbench",
        master=f"local[{args.slots}]",
        extra_conf={
            # the UI stays on in untraced runs too, so that tracing adds
            # only the listener and the REST reads after the timed phase
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def freshness(sched: dict, f2b: dict[str, int], commits: dict[int, float], n_warm: int):
    """Per timed event, commit time of its batch minus its creation time.
    Returns (freshness seconds, timed batches, uncommitted, late)."""
    fresh, uncommitted, late = [], 0, 0
    timed: dict[int, dict] = {}
    for e in sched["files"]:
        if e["first"] < n_warm:
            continue
        b = f2b.get(e["name"])
        if b is None or b not in commits:
            uncommitted += e["n"]
            continue
        tb = timed.setdefault(b, {"rows": 0, "renamed": 0.0})
        tb["rows"] += e["n"]
        tb["renamed"] = max(tb["renamed"], e["renamed"])
        for i in range(e["first"], e["first"] + e["n"]):
            f_s = commits[b] - (sched["t0"] + i / sched["rate"])
            fresh.append(f_s)
            late += f_s > FRESHNESS_LIMIT_S
    return fresh, timed, uncommitted, late


def wrong_keys(rep, expected) -> int:
    """Replica keys whose value differs from the expected state, counting
    missing, extra, duplicate and out-of-range keys."""
    import numpy as np

    keys = rep["order_id"].to_numpy()
    ok = (keys >= 0) & (keys < len(expected))
    got = np.full(len(expected), -1, dtype=np.int64)
    got[keys[ok]] = rep["invoice_number"].to_numpy()[ok]
    return (
        int((got != expected).sum())
        + int((~ok).sum())
        + len(keys) - len(np.unique(keys))
    )


def progress_records(path: str) -> dict[int, dict]:
    """Batch id → ``durationMs`` from the ProgressRecorder file."""
    out = {}
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                if not line.endswith("\n"):  # the recorder is mid-append
                    break
                r = json.loads(line)
                if r["event"] == "progress":
                    out[r["batch_id"]] = r["duration_ms"]
    return out


def wait_for_progress(path: str, batch_id: int, timeout_s: float = 10.0) -> None:
    """The listener bus delivers progress events asynchronously: wait until
    the recorder has written ``batch_id``, or ``timeout_s`` has passed."""
    end = time.time() + timeout_s
    while batch_id not in progress_records(path) and time.time() < end:
        time.sleep(0.1)


def trace_layers(tracer, layer, health, spark, recorder_path, commits, timed, feed, gc_ms):
    """Per-layer metrics of the timed batches: ProgressRecorder phases, and
    jobs, tasks, stage volumes and GC from the UI REST API. A batch's jobs
    are those submitted after the previous batch's commit. A batch with no
    progress record is left out of the phase metrics and counted in
    ``health``."""
    prog = progress_records(recorder_path)
    feed_idx = next(i for i, s in enumerate(tracer.spans) if s is feed)
    per_phase: dict[str, list[float]] = {k: [] for k in PHASES}
    trig = []
    for b in sorted(commits):
        if b not in prog:
            continue
        d = prog[b]
        total = d.get("triggerExecution", 0) / 1000.0
        t = commits[b] - total
        kind = "batch" if b in timed else "warmup_batch"
        bi = tracer.add(f"streaming.{kind}:{b}", t, commits[b], feed_idx)
        # phases laid back to back in execution order; the time between
        # them stays the batch span's self time
        for k, key in PHASES.items():
            dur = d.get(key, 0) / 1000.0
            tracer.add(f"streaming.{k}", t, t + dur, bi)
            t += dur
            if b in timed:
                per_phase[k].append(dur * 1000)
        if b in timed:
            trig.append(total * 1000)
    health["timed_batches_without_progress"] = sum(b not in prog for b in timed)
    if trig:
        for k in PHASES:
            layer[f"streaming.{k}_ms"] = statistics.median(per_phase[k])
        layer["streaming.trigger_execution_ms"] = statistics.median(trig)

    batches = sorted(timed)
    api = f"{spark.sparkContext.uiWebUrl}/api/v1/applications/{spark.sparkContext.applicationId}"
    lo = max((commits[b] for b in commits if b < batches[0]), default=0.0)
    hi = commits[batches[-1]]
    jobs = [j for j in rest(f"{api}/jobs")
            if lo < rest_time(j.get("submissionTime")) <= hi]
    stages = [s for s in rest(f"{api}/stages?status=complete")
              if lo < rest_time(s.get("submissionTime")) <= hi]
    nb = len(batches)
    layer["streaming.jobs_per_batch"] = len(jobs) / nb
    layer["streaming.tasks_per_batch"] = sum(j["numCompletedTasks"] for j in jobs) / nb
    layer["streaming.executor_run_ms_per_batch"] = sum(s["executorRunTime"] for s in stages) / nb
    layer["streaming.shuffle_write_kb_per_batch"] = (
        sum(s["shuffleWriteBytes"] for s in stages) / 1024 / nb
    )
    layer["streaming.output_kb_per_batch"] = sum(s["outputBytes"] for s in stages) / 1024 / nb
    layer["jvm.gc_ms_per_batch"] = gc_ms / nb


def run_cdc(args, tracer: Tracer, work: str) -> dict:
    import numpy as np

    from simple_cdc_service_spark.config import INVOICE
    from simple_cdc_service_spark.streaming import (
        ProgressRecorder,
        bootstrap_manifest_store,
        manifest_store_history,
        read_changelog_stream,
        read_replica_manifest,
        start_replica_merge_manifest,
    )

    src, staging = os.path.join(work, "src"), os.path.join(work, "staging")
    state, ckpt = os.path.join(work, "state"), os.path.join(work, "ckpt")
    os.makedirs(src)
    layer: dict[str, float] = {}
    with tracer.span("session.get_spark") as s:
        spark = start_session(args, work)
    layer["session.get_spark_s"] = seconds(s)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    gateway = spark.sparkContext._gateway
    api = f"{spark.sparkContext.uiWebUrl}/api/v1/applications/{spark.sparkContext.applicationId}"
    query = gen = None
    try:
        with tracer.span("sources.bootstrap_manifest_store") as s:
            boot = bootstrap_manifest_store(
                spark.range(STORE_ROWS).selectExpr(
                    "id AS order_id", "id * 7 AS invoice_number"
                ),
                INVOICE, state, target_rows_per_file=STORE_ROWS // STORE_FILES,
            )
        layer["sources.bootstrap_manifest_store_s"] = seconds(s)
        recorder = None
        if tracer.enabled:
            recorder = ProgressRecorder(os.path.join(work, "progress.jsonl"))
            spark.streams.addListener(recorder)
        with tracer.span("streaming.start_replica_merge_manifest"):
            query = start_replica_merge_manifest(
                read_changelog_stream(spark, src), INVOICE, state, ckpt,
                trigger_available_now=False,
                target_rows_per_file=STORE_ROWS // STORE_FILES,
            )
        n_timed = RATE * args.seconds
        spec = {
            "seed": args.seed, "keys": WORKLOADS[args.workload],
            "store_rows": STORE_ROWS,
            "file_key_ranges": [[e["min"], e["max"]] for e in boot["files"]],
            "hot_keys": HOT_KEYS, "rate": RATE, "per_file": PER_FILE,
            "timed_events": n_timed, "max_warmup_s": MAX_WARMUP_S,
            "warmup_marker": os.path.join(state, "manifest", f"v{WARMUP_BATCHES - 1}.json"),
            "src": src, "staging": staging, "out": work,
        }
        with open(os.path.join(work, "spec.json"), "w") as f:
            json.dump(spec, f)
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), os.path.join(work, "spec.json")],
            stdout=sys.stderr,
        )
        with tracer.span("streaming.feed") as feed:
            if tracer.enabled:
                while gen.poll() is None and not os.path.exists(os.path.join(work, "timed.json")):
                    time.sleep(0.05)
                gc0 = driver_gc_ms(api)
            rc = gen.wait(timeout=MAX_WARMUP_S + args.seconds + 60)
            if rc != 0:
                raise RuntimeError(f"generator exited with {rc}")
            query.processAllAvailable()
            if tracer.enabled:
                gc_ms = driver_gc_ms(api) - gc0
        query.stop()
        query = None
        commits = commit_times(state)
        if recorder is not None:
            if commits:
                wait_for_progress(recorder.path, max(commits))
            spark.streams.removeListener(recorder)

        with open(os.path.join(work, "schedule.json")) as f:
            sched = json.load(f)
        n_warm = sched["timed_first"]
        setup_s = sched["t0"] + n_warm / RATE - T_START
        fresh, timed, uncommitted, late = freshness(sched, batch_files(ckpt), commits, n_warm)
        batches = sorted(timed)

        with tracer.span("streaming.read_replica_manifest") as s:
            rep = read_replica_manifest(spark, state).toPandas()
        layer["streaming.read_replica_manifest_s"] = seconds(s)
        wrong = wrong_keys(rep, np.load(os.path.join(work, "expected.npy")))

        with tracer.span("streaming.manifest_store_history"):
            hist = {h["version"]: h for h in manifest_store_history(state)}
        health = {}
        layer["streaming.batches"] = len(batches)
        if batches:
            if tracer.enabled:
                trace_layers(tracer, layer, health, spark, recorder.path,
                             commits, timed, feed, gc_ms)
            layer["streaming.batch_wall_ms"] = statistics.median(
                (commits[b] - timed[b]["renamed"]) * 1000 for b in batches
            )
            layer["streaming.input_rows_per_batch"] = statistics.median(
                timed[b]["rows"] for b in batches
            )
            # files_touched counts files of the previous version
            versions = sorted(hist)
            prev = dict(zip(versions[1:], versions))
            layer["store.files_touched_fraction"] = statistics.median(
                hist[b]["files_touched"] / hist[prev[b]]["n_files"] for b in batches
            )
            layer["store.files_total"] = statistics.median(
                hist[b]["n_files"] for b in batches
            )
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    finally:
        if query is not None:
            query.stop()
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        spark.stop()
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    gaps = sorted(commits.values())
    failed = uncommitted + late + wrong
    health.update({
        "timed_events": n_timed,
        "timed_batches": len(batches),
        "first_timed_batch": batches[0] if batches else None,
        "generator_lateness_p99_s": sched["lateness_p99_s"],
        "generator_lateness_max_s": sched["lateness_max_s"],
        "loadavg": os.getloadavg(),
        "commit_gaps_s": [round(b - a, 2) for a, b in zip(gaps, gaps[1:])],
        "key_range": sched["key_range"],
        "uncommitted": uncommitted, "late": late, "wrong_keys": wrong,
    })
    return {
        "correct": failed == 0,
        "attempted": n_timed,
        # wrong replica keys can outnumber the timed events
        "failed": min(failed, n_timed),
        "e2e": {
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss,
            "freshness_p50_ms": statistics.median(fresh) * 1000 if fresh else None,
            "freshness_p90_ms": quantile(fresh, 0.9) * 1000 if fresh else None,
        },
        "layer": layer,
        "health": health,
    }


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--slots", type=int, default=2,
                    help="engine task slots (1 = single-threaded baseline)")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "simple_cdc_service_spark", "__init__.py")):
        print("perfbench: run from the repository root (simple_cdc_service_spark/ "
              "not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    out_dir = os.path.join(ROOT, "perfbench_out")
    work = os.path.join(out_dir, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    tracer = Tracer(bool(args.trace))
    try:
        with tracer.span(f"run.{args.workload}"):
            res = run_cdc(args, tracer, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)
    report = {"health": res["health"], "end_to_end": res["e2e"], "layer": res["layer"]}
    print(json.dumps(report), file=sys.stderr)
    if args.trace:
        report.update(spans=tracer.spans, self_time_s=tracer.self_times())
        name = f"trace-{args.workload}-s{args.seed}-slots{args.slots}.json"
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(report, f)
        values, units = res["layer"], PER_LAYER
    else:
        values, units = res["e2e"], END_TO_END
    e2e, h = res["e2e"], res["health"]
    print(f"{args.workload} seed {args.seed}: {h['timed_batches']} timed batches, "
          f"{h['timed_events']} timed events, freshness p50 {e2e['freshness_p50_ms']} ms, "
          f"p90 {e2e['freshness_p90_ms']} ms")
    # a metric that could not be measured (no timed batch committed) is null
    metrics = {k: {"value": values.get(k), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
