"""Benchmark command for the extraction engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload extract|catalog \\
        --seed N --seconds S --trace 0|1

One run starts a ``local[nproc]`` session, sets up its workload three
times (seeded input staging and warm-up; the first round also starts the
session), primes it once (untimed passes that bring it to a steady
state; ``setup_s`` is the median round plus the priming), runs timed
passes for at least ``--seconds`` and at least the workload's minimum
number of passes (``wall_s`` and ``peak_rss_mb`` are medians over
passes), and checks the outputs outside the timed section. ``--trace 1``
also writes a Spark event log, folds it into spans and per-layer
metrics, and deletes it.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json, or
its per-layer metrics with ``--trace 1``). The line before it names the
full per-run record under ``perfbench/results/``. A failed check exits 1;
a checkout without the engine exits 2 and prints no result.

Everything the run writes stays inside the checkout: inputs, Spark's
local dirs, the JVM's and Python's temp dirs and the event log go under
``perfbench/_work/``, which is removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
RESULTS = os.path.join(HERE, "results")
SETUP_ROUNDS = 3
RSS_INTERVAL_S = 0.2
DRIVER_MEM = "1g"


class Phases:
    """The benchmark's own spans. Each phase is also set as the Spark job
    description, so the event log maps every job back to its phase."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.spark = None
        self._stack: list[str] = []

    @contextlib.contextmanager
    def __call__(self, name: str):
        parent = self._stack[-1] if self._stack else None
        full = f"{parent}/{name}" if parent else name
        span = {"id": full, "name": name, "kind": "phase", "parent": parent,
                "run_id": self.run_id, "start_ms": int(time.time() * 1000)}
        self._stack.append(full)
        self._describe(full)
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span["seconds"] = time.perf_counter() - t0
            span["end_ms"] = int(time.time() * 1000)
            self.spans.append(span)
            self._stack.pop()
            self._describe(parent)

    def _describe(self, desc):
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(desc)

    def children(self, parent: str) -> dict[str, float]:
        return {s["name"]: s["seconds"] for s in self.spans if s["parent"] == parent}


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Peak of the summed RSS of this process and its descendants (the JVM
    and the Python workers), sampled from /proc; ``lap`` returns the peak
    since the previous lap."""

    def __init__(self):
        super().__init__(daemon=True)
        self._peak = 0
        self._lock = threading.Lock()
        self._halt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._halt.wait(RSS_INTERVAL_S):
            rss = _rss_bytes(_proc_tree(me))
            with self._lock:
                self._peak = max(self._peak, rss)

    def lap(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)


def _children() -> list[int]:
    me = os.getpid()
    return [p for p in _proc_tree(me) if p != me]


def _stop_children(timeout_s: float = 30.0) -> None:
    """Terminate what the session left running (the JVM and its Python
    workers) and wait until each has ended; kill what outlives SIGTERM."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _children():
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        deadline = time.monotonic() + timeout_s
        while _children() and time.monotonic() < deadline:
            time.sleep(0.1)
        if not _children():
            return


def _isolate_environment() -> dict:
    """Point every temp and scratch dir at WORK; return the Spark conf that
    does the same for the JVM."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(WORK, d))
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # The inputs are a few tens of MB. A growing JVM heap makes RSS follow
    # GC timing, so the heap is fixed at 1g and touched at start: the JVM
    # share of RSS is then its heap plus what it allocates off heap.
    # The JIT stops at C1: with C2 the catalog passes kept getting faster
    # for eight passes and more (10.8 s down to 7.5 s), so a run's median
    # depended on how many passes it fitted; with C1 the passes after the
    # priming one are level, and extract passes take as long as with C2.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1",
        "spark.ui.showConsoleProgress": "false",
    }


def _layer_metrics(wl, phases, passes, rounds, prime_s, trace_wall_s) -> tuple[dict, list]:
    """Per-layer metrics from the event log, the benchmark's own phases and
    the single-process parser replay; and all spans of the run."""
    import eventlog
    import workloads
    from ocr_spark.plans import QUERIES

    log_dir = os.path.join(WORK, "eventlog")
    apps = eventlog.fold_dir(log_dir)
    stages = [st for app in apps for st in app.stages.values()]
    timed = [st for st in stages if (st.description or "").startswith("pass")]
    n = len(passes)
    t = eventlog.totals(timed)
    py_stages = [st for st in timed if st.is_python and st.task_ms]
    skews = [max(st.task_ms) / max(statistics.median(st.task_ms), 1) for st in py_stages]
    scope = eventlog.totals(st for st in stages if wl.parser_scope(st.description or ""))

    m = {
        # round 0 is the one that starts the JVM and the Python workers
        "session.start_s": rounds[0]["session"],
        "session.warmup_s": rounds[0]["warmup"],
        "session.prime_s": prime_s,
        "fixtures.gen_s": statistics.median(r["gen"] for r in rounds),
        "pipeline.python_run_s": t["python_run_ms"] / 1e3 / n,
        "pipeline.python_init_s": t["python_init_ms"] / 1e3 / n,
        "pipeline.arrow_bytes_sent": t["arrow_bytes_sent"] / n,
        "pipeline.arrow_bytes_returned": t["arrow_bytes_returned"] / n,
        "pipeline.parser_share": (
            wl.proc_us / 1e3 / scope["python_run_ms"] if scope["python_run_ms"] else 0.0
        ),
        "partitioning.shuffle_write_bytes": t["shuffle_write_bytes"] / n,
        # map side of the exchanges: non-Python stages that write shuffle
        "partitioning.exchange_run_s": sum(
            st.sums["run_ms"] for st in timed
            if st.sums["shuffle_write_bytes"] > 0 and not st.is_python
        ) / 1e3 / n,
        "partitioning.task_skew": statistics.median(skews) if skews else 0.0,
        "partitioning.nonempty_partitions": (
            statistics.median(st.nonempty_tasks for st in py_stages) if py_stages else 0
        ),
        "jvm.executor_run_s": t["run_ms"] / 1e3 / n,
        "jvm.cpu_s": t["cpu_ns"] / 1e9 / n,
        "jvm.gc_s": t["gc_ms"] / 1e3 / n,
        "jvm.spill_bytes": t["spill_bytes"] / n,
        "scan.bytes_read": t["input_bytes"] / n,
        "trace.wall_s": trace_wall_s,
        "trace.event_log_bytes": eventlog.log_bytes(log_dir),
    }
    if wl.docs:
        m["pipeline.docs_per_s"] = wl.docs / statistics.median(p["wall"] for p in passes)
    for name, wall in wl.entry_medians().items():
        m[f"catalog.{name}.wall_s"] = wall
        rollup = QUERIES[name].__module__.removeprefix("ocr_spark.") + "_s"
        m[rollup] = m.get(rollup, 0.0) + wall

    m.update(workloads.parser_replay(wl.seed))

    run_id = phases.run_id
    phase_ids = {s["id"] for s in phases.spans}
    spans = list(phases.spans)
    for app in apps:
        spans += eventlog.spans(app, run_id, lambda d: d if d in phase_ids else None)
    return m, spans


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["extract", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ocr_spark")):
        print(f"perfbench: no ocr_spark package under {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    conf = _isolate_environment()
    log_dir = os.path.join(WORK, "eventlog")
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": log_dir})
    sys.path[:0] = [ROOT, HERE]

    from ocr_spark.plans import load_all
    from ocr_spark.session import build_session
    import workloads

    load_all()
    cores = len(os.sched_getaffinity(0))
    wl = workloads.WORKLOADS[args.workload]()
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    phases = Phases(run_id)

    # Round 0 starts the session (and the JVM); every round stages the
    # seeded input from scratch and warms up. setup_s is the median round.
    spark, rounds = None, []
    for r in range(SETUP_ROUNDS):
        shutil.rmtree(os.path.join(WORK, f"input{r - 1}"), ignore_errors=True)
        with phases(f"setup{r}") as round_span:
            if spark is None:
                with phases("session"):
                    spark = build_session(f"perfbench_{args.workload}", cores=cores, extra_conf=conf)
                phases.spark = spark
            with phases("stage"):
                wl.stage(spark, os.path.join(WORK, f"input{r}"), args.seed, phases)
            with phases("warmup"):
                wl.warm_up(spark)
        split = phases.children(round_span["id"])
        split["gen"] = phases.children(f"{round_span['id']}/stage").get("gen", 0.0)
        rounds.append({"total": round_span["seconds"], **split})

    with phases("prime") as prime_span:
        wl.prime(spark, phases)

    sampler = RssSampler()
    sampler.start()
    passes, deadline = [], time.perf_counter() + args.seconds
    while len(passes) < wl.min_passes or time.perf_counter() < deadline:
        with phases(f"pass{len(passes)}") as span:
            wl.run_pass(spark, len(passes), phases)
        passes.append({"wall": span["seconds"], "peak_rss": sampler.lap(),
                       **phases.children(span["id"])})
    sampler.stop()

    with phases("check"):
        attempted, failed, problems = wl.check(spark)
    wall_s = statistics.median(p["wall"] for p in passes)
    end_to_end = {
        # priming is set-up work too (filling caches, compiling): it is
        # done once, so it is added to the median round
        "setup_s": statistics.median(r["total"] for r in rounds) + prime_span["seconds"],
        "wall_s": wall_s,
        "peak_rss_mb": statistics.median(p["peak_rss"] for p in passes) / 2**20,
    }
    phases.spark = None
    spark.stop()
    per_layer, spans = {}, phases.spans
    if args.trace:
        per_layer, spans = _layer_metrics(wl, phases, passes, rounds, prime_span["seconds"], wall_s)
    leaked = [d for d in os.listdir(os.path.join(WORK, "tmp")) if d.startswith("ocr_spark_")]
    per_layer["tmp_dirs_leaked"] = len(leaked)
    _stop_children()

    record = {
        "args": vars(args), "cores": cores, "correct": failed == 0,
        "attempted": attempted, "failed": failed, "problems": problems[:50],
        "setup_rounds": rounds, "passes": passes, "end_to_end": end_to_end,
        "per_layer": per_layer, "tmp_dirs_leaked": leaked, "spans": spans,
    }
    os.makedirs(RESULTS, exist_ok=True)
    record_path = os.path.join(RESULTS, f"{run_id}.json")
    with open(record_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(WORK, ignore_errors=True)

    values = per_layer if args.trace else end_to_end
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    # 9 significant digits keep every measured digit and the line short
    metrics = {m["name"]: {"value": float(f"{values.get(m['name'], 0):.9g}"), "unit": m["unit"]}
               for m in chosen}
    for p in problems[:5]:
        print(f"check failed: {p}")
    print(f"record: {os.path.relpath(record_path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
