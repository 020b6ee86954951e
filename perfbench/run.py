"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dense_matchsets --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The run generates (once per seed) the
workload's inputs, starts one long-lived ``local[<cores>]`` session, sets
up, warms up, then repeats the workload's single user-facing call, one at
a time from this process (a closed loop with one client), until
``--seconds`` have passed.  Every call's output is checked against the
planted truth.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` enables the
Spark event log, alternates untraced calls with calls composed from the
layers' public functions (perfbench/workloads.py), and reports the
per-layer ledger (perfbench/ledger.py).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
carries the details (every call's time, quartiles and counts).  All files
the run writes stay under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WARMUP_CALLS = 2
MIN_CALLS = 3


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssWatcher(threading.Thread):
    """Peak resident memory of the process tree (this process, the JVM,
    Python workers): the largest sum of proportional set sizes over one sample of
    the live tree, so pages that forked workers share are counted once."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self.halt = threading.Event()

    def sample(self) -> None:
        total = sum(_pss_kb(pid) for pid in _descendants(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self.halt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self.halt.set()
        self.join()
        return self.peak_kb / 1024.0


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every child."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while len(_descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in _descendants(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _timed_calls(args, wl) -> int:
    """A fixed number of timed calls per run: ``--seconds`` over the
    workload's nominal call time on the reference host.  Every run then
    times the same call indices after the same warm-up, whatever the host's
    speed during it (a time-bounded loop would make more calls, later in
    the warm-up curve, when the host runs fast).  A traced run alternates
    untraced and composed calls, and a composed call with its probes costs
    about two untraced ones."""
    if args.trace:
        return max(2, round(args.seconds / (3 * wl.nominal_call_s)))
    return max(MIN_CALLS, round(args.seconds / wl.nominal_call_s))


def _quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3
    return statistics.quantiles(xs, n=4)


def _median_metrics(rows: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def _ledger(traced: list[tuple], tracer, event_dir: str) -> list[dict]:
    """Per-layer metrics of every traced call, from its spans and the
    event log, reconciled against the untraced call paired with it."""
    import ledger

    (log_name,) = os.listdir(event_dir)
    with open(os.path.join(event_dir, log_name)) as f:
        groups = ledger.parse_event_log(f)
    per_call = []
    for call, wall, _out, rows, extra in traced:
        run_id = f"call:{call}"
        m = ledger.layer_metrics(tracer.spans, groups, run_id, rows)
        m.update(extra)
        layer_sum = sum(m[f"{layer}.wall_s"] for layer in ledger.LAYERS)
        # the traced call's own time: its layer spans plus the api glue
        # between them (the probe counts run outside those spans)
        total = sum(
            s.wall_s for s in tracer.spans if s.run_id == run_id and s.name != "call"
        )
        m["api.self_s"] = wall - layer_sum
        m["trace.overhead_s"] = total - wall
        m["trace.layer_share"] = layer_sum / wall
        per_call.append(m)
    return per_call


def run(args) -> dict:
    import gen

    data = gen.ensure(args.workload, args.seed, os.path.join(WORK, "data"))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{uuid.uuid4().hex[:6]}")
    os.makedirs(run_dir)
    try:
        return _measure(args, data, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _measure(args, data: str, run_dir: str) -> dict:
    import ledger
    from workloads import WORKLOADS

    from vid_dup_finder_lib_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData",
    }
    if args.trace:
        event_dir = os.path.join(run_dir, "events")
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cpus = len(os.sched_getaffinity(0))
    watcher = RssWatcher()
    watcher.start()

    t_setup = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, extra_conf=conf)
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        sc.setJobGroup("setup", "setup")
        setup_parts = {"session_s": time.perf_counter() - t_setup}
        wl = WORKLOADS[args.workload](spark, data, run_dir)
        t0 = time.perf_counter()
        wl.setup()
        setup_parts["load_s"] = time.perf_counter() - t0
        warm = []
        for _ in range(WARMUP_CALLS):
            wl.reset()
            t0 = time.perf_counter()
            wl.call()
            warm.append(time.perf_counter() - t0)
        setup_parts["warmup_s"] = warm
        setup_s = time.perf_counter() - t_setup

        tracer = ledger.Tracer(sc)
        walls: list[float] = []
        outputs: list[object] = []
        traced: list[tuple] = []
        errors: list[str] = []
        attempted = failed = 0
        for _ in range(_timed_calls(args, wl)):
            attempted += 1
            wl.reset()
            sc.setJobGroup(f"untraced:{len(walls)}", "untraced")
            t0 = time.perf_counter()
            try:
                out = wl.call()
            except Exception:
                failed += 1
                errors.append(traceback.format_exc(limit=3))
                continue
            walls.append(time.perf_counter() - t0)
            outputs.append(out)
            if args.trace:
                attempted += 1
                wl.reset()
                tracer.call += 1
                try:
                    with tracer.span("call"):
                        result = wl.traced(tracer)
                    # paired with the untraced call just before it, which
                    # sits at the same point of the warm-up curve
                    traced.append((tracer.call, walls[-1], *result))
                except Exception:
                    failed += 1
                    errors.append(traceback.format_exc(limit=3))
        # the memory of set-up and the calls, not of the check below
        peak_mb = watcher.stop()

        sc.setJobGroup("check", "check")
        t0 = time.perf_counter()
        wl.prepare_check()
        scores = []
        for out in outputs:
            bad = wl.check(out)
            scores.append(wl.scores(out))
            if bad:
                failed += 1
                errors += bad
        for _call, _wall, out, *_ in traced:
            if out != outputs[0]:
                failed += 1
                errors.append("composed call output differs from the untraced call")
        check_s = time.perf_counter() - t0
    finally:
        _stop_spark(spark)

    wall = statistics.median(walls)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cpus,
        "docs": wl.n_docs,
        "calls": len(walls),
        "wall_s_calls": walls,
        "wall_s_quartiles": _quartiles(walls),
        "setup_s": setup_s,
        "setup_parts": setup_parts,
        "check_s": check_s,
        "failed_ratio": failed / attempted,
        "errors": errors[:5],
    }
    metrics: dict[str, float]
    if not args.trace:
        metrics = {
            "wall_s": wall,
            "docs_per_s": wl.n_docs / wall,
            "setup_s": setup_s,
            "peak_rss_mb": peak_mb,
            "planted_pair_recall": min(s[0] for s in scores),
            "planted_pair_precision": min(s[1] for s in scores),
        }
    else:
        per_call = _ledger(traced, tracer, event_dir)
        metrics = _median_metrics(per_call) if per_call else {}
        os.makedirs(os.path.join(WORK, "ledger"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "ledger", f"{args.workload}-spans.jsonl"))
        detail["traced_calls"] = len(traced)
        detail["trace_overhead_s"] = [m["trace.overhead_s"] for m in per_call]
    return {
        "detail": detail,
        "result": {
            "correct": not errors and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: one workload run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # every file the run (and the JVM and Python workers it starts) writes
    # stays inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)
    try:
        import vid_dup_finder_lib_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not in this checkout ({e})", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    # metric names and units come from the benchmark's declaration
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    res = run(args)
    result = res["result"]
    measured = result["metrics"]
    # a layer a workload does not use reports 0 for its own counters
    result["metrics"] = {
        m["name"]: {
            "value": measured.get(m["name"], 0.0) if args.trace else measured[m["name"]],
            "unit": m["unit"],
        }
        for m in spec["per_layer" if args.trace else "end_to_end"]
    }
    print(json.dumps(res["detail"]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
