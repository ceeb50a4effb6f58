"""Benchmark runner for the kenshin_backup_spark engine.

Run from the repository root::

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

One process, one client thread, closed loop. The runner starts a local
Spark session on every core this process may use (``session.get_spark``),
then sets the workload up: it stages the inputs generated from ``--seed``
three times (``setup_s`` takes the median) and warms up once, which
includes writing the dashboard's store. It then serves whole rounds of the workload's operation mix back
to back until ``--seconds`` have passed, checking every answer. The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run serves each operation twice,
traced and untraced, so the per-layer numbers and the tracing overhead
come from the same process; its spans are written to ``.perfbench-out/``.

Everything else the run writes (staged inputs, ladders, checkpoints,
Spark scratch space) lives in a fresh directory under the repository root
that is removed at exit. ``python3 perfbench/selftest.py`` checks the
benchmark itself.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: input sizes per workload; "tiny" is for the self-test only
SIZES = {
    "stream_ingest": {
        "full": {"hosts": 8, "cpus": 4, "files": 4, "lines_per_file": 4000, "minutes_per_file": 15},
        "tiny": {"hosts": 1, "cpus": 2, "files": 3, "lines_per_file": 200, "minutes_per_file": 15},
    },
    "dashboard": {
        "full": {"hosts": 6, "cpus": 2, "minutes": 360, "cycles": 3},
        "tiny": {"hosts": 2, "cpus": 2, "minutes": 300, "cycles": 1},
    },
    "corpus_dedup": {
        "full": {"docs": 1500, "near_pairs": 30, "exact_copies": 15, "queries": 60, "max_df": 20},
        "tiny": {"docs": 120, "near_pairs": 6, "exact_copies": 3, "queries": 10, "max_df": 20},
    },
}
#: set-up repetitions per run; ``setup_s`` reports their median
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "ops_ok_ratio": "ratio",
    "peak_rss_mb": "MB",
    "items_per_s": "1/s",
    "op_ms_p50": "ms",
    "op_ms_tail": "ms",
}
STEPS = (60, 600, 3600)
LAYERS = ("bench", "api", "ladder", "render", "cache", "spark", "streaming",
          "dedup", "similarity", "textops")
PER_LAYER = {
    "session.start_s": "s",
    "api.write_s": "s",
    "api.write_overhead_s": "s",
    "ladder.build_s": "s",
    **{f"ladder.files.{s}": "count" for s in STEPS},
    **{f"ladder.bytes_per_point.{s}": "B" for s in STEPS},
    "spark.jobs_per_write": "count",
    "spark.tasks_per_write": "count",
    "api.render_plan_ms_p50": "ms",
    "ladder.fetch_plan_ms_p50": "ms",
    "render.compile_ms_p50": "ms",
    "render.exec_ms_p50": "ms",
    "render.exec_ms_tail": "ms",
    "api.fetch_calls_per_request": "count",
    "render.leaf_refs_per_request": "count",
    "cache.memo_hit_ratio": "ratio",
    "cache.persists_per_request": "count",
    "fetch.rows_per_request": "count",
    "spark.jobs_per_request": "count",
    "spark.tasks_per_request": "count",
    "api.browse_ms_p50": "ms",
    "streaming.trigger_ms_p50": "ms",
    "streaming.overhead_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.upsert_ms_p50": "ms",
    "streaming.sink_bytes_rewritten_per_input_byte": "ratio",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B",
    "streaming.parse_kept_ratio": "ratio",
    "dedup.exact_s": "s",
    "dedup.jaccard_s": "s",
    "dedup.components_s": "s",
    "dedup.pairs_found": "count",
    "dedup.recall": "ratio",
    "similarity.srp_topk_s": "s",
    "similarity.recall_at_k": "ratio",
    "textops.quality_s": "s",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "trace.overhead_ratio": "ratio",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size (tiny is for the self-test)")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="self-test: compare one answer against a wrong expectation")
    return ap.parse_args(argv)


def driver_memory_mb() -> int:
    """An eighth of the machine's memory, at most 2 GiB: the inputs are
    small, and the machine is shared."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return min(2048, total_kb // 8192)


def pin_environment(workdir: str) -> None:
    """Size the session for this machine and keep Spark's scratch space in
    the run directory. Must run before the engine is imported: its
    session module reads ``SPARK_GRAFT_CPUS`` at import time."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    heap = driver_memory_mb()
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # A heap committed and touched up front makes the JVM's resident size
    # independent of when the collector happens to run, so peak_rss_mb
    # moves only with memory outside the heap and in the Python driver.
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Xms{heap}m -XX:+AlwaysPreTouch"
        # no perf-data file in the system temp directory
        + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    )
    # the same for the short-lived JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of one process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and anything it started, and wait
    until every one of those processes has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    tree = [proc.pid]
    for pid in tree:
        tree.extend(children(pid))
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run(args: argparse.Namespace, workdir: str) -> dict:
    from kenshin_backup_spark import session
    from perfbench.trace import Tracer
    from perfbench.workloads import TAIL_PCT, WORKLOADS, Ctx, Op, pct

    tracer = Tracer(False)
    t = time.perf_counter()
    spark = session.get_spark("perfbench")
    session_s = time.perf_counter() - t
    ready = time.perf_counter() - PROCESS_START
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](
            Ctx(spark, args.seed, workdir, tracer), SIZES[args.workload][args.size]
        )
        stages = []
        for rep in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.stage(rep)
            stages.append(time.perf_counter() - t)
        # a traced run also traces the warm-up, where a store is written
        if args.trace:
            tracer.enabled = True
            wl.instrument(tracer)
        t = time.perf_counter()
        try:
            wl.warm()
        finally:
            tracer.unwrap()
            tracer.enabled = False
        warm_s = time.perf_counter() - t
        setup_s = ready + statistics.median(stages) + warm_s
        wl.inject_wrong = args.inject_wrong

        ops: list[Op] = []
        pairs: list[tuple[Op, Op]] = []
        t0 = time.perf_counter()
        k = 0
        while time.perf_counter() - t0 < args.seconds or k % wl.cycle:
            # a traced run serves every operation twice, traced and not,
            # alternating which goes first
            order = [(k % 2 == 0), (k % 2 == 1)] if args.trace else [False]
            done = {}
            for trace_this in order:
                if trace_this:
                    tracer.enabled = True
                    wl.instrument(tracer)
                tracer.request = k
                t = time.perf_counter()
                try:
                    op = wl.op(k)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    op = Op(0, False, [], time.perf_counter() - t)
                finally:
                    tracer.unwrap()
                    tracer.enabled = False
                ops.append(op)
                done[trace_this] = op
            if args.trace:
                pairs.append((done[True], done[False]))
            k += 1

        attempted = len(ops) + wl.setup_checks
        failed = sum(not o.ok for o in ops) + wl.setup_failures
        print(
            f"perfbench: {args.workload} ready={ready:.2f}s "
            f"stages={[round(x, 2) for x in stages]} warm={warm_s:.2f}s "
            f"ops={len(ops)} failed={failed} "
            f"samples_ms={[round(x) for o in ops for x in o.samples_ms]}",
            file=sys.stderr,
        )
        rss = vm_hwm_mb("self") + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        if args.trace:
            values = layer_values(wl, tracer, pairs, session_s)
            units = PER_LAYER
        else:
            samples = [x for o in ops for x in o.samples_ms]
            values = {
                "setup_s": setup_s,
                "ops_ok_ratio": (attempted - failed) / attempted,
                "peak_rss_mb": rss,
                "items_per_s": sum(o.items for o in ops) / sum(o.wall_s for o in ops),
                "op_ms_p50": pct(samples, 50),
                "op_ms_tail": pct(samples, TAIL_PCT),
            }
            units = END_TO_END
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        stop_spark(spark)


def layer_values(wl, tracer, pairs, session_s) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not drive reads 0."""
    values = dict.fromkeys(PER_LAYER, 0.0)
    values["session.start_s"] = session_s
    good = [(a, b) for a, b in pairs if a.ok and b.ok]
    traced = [a for a, _ in good]
    if traced:
        values.update(wl.layer_metrics(traced))
        # traced against untraced wall time of the same operations
        values["trace.overhead_ratio"] = sum(a.wall_s for a, _ in good) / sum(
            b.wall_s for _, b in good
        )
    for layer, s in tracer.self_times().items():
        values[f"self_s.{layer}"] = s / max(1, len(pairs))
    out_dir = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"trace-{wl.name}-{wl.ctx.seed}.json"))
    return values


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "kenshin_backup_spark")):
        print(f"perfbench: no kenshin_backup_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workdir = tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT)
    try:
        pin_environment(workdir)
        result = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
