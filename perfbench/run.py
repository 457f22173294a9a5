"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload meds_preprocess --seed 1 --seconds 20 --trace 0

Closed loop, one client: after set-up (session start plus one warm-up
pass) it runs the workload's fixed number of timed passes back to back,
starting none once ``--seconds`` of pass time have elapsed, and checks
each pass's output outside the timed region. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the ``end_to_end`` metrics of BENCHMARK.json with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``. The line
before it records the environment.

With ``--trace 1`` the run also switches the Spark event log on, runs the
passes with their jobs tagged per pass, then one traced pass with a span
around each layer call, and writes the spans to ``perfbench/traces/``.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

import numpy as np  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import procs  # noqa: E402
from layers import layer_metrics  # noqa: E402
from spans import Tracer, fold_event_log  # noqa: E402

#: Hard limit for one run, below the 180 s a caller may allow; set-up,
#: passes and shut-down all fit inside it.
DEADLINE_S = 165
#: Driver JVM heap (local mode: the driver is the only executor).
HEAP = "2g"
#: How long each step of shut-down may wait before killing what is left.
STOP_TIMEOUT_S = 10


class Interrupted(BaseException):
    """A signal or the deadline. Not an ``Exception``, so that handlers
    which count a failed pass or query (and py4j's own) let it through."""


def _on_signal(signum, frame):
    # one interruption is enough: shut-down must not be interrupted itself
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGALRM):
        signal.signal(sig, signal.SIG_IGN)
    if signum == signal.SIGALRM:
        raise Interrupted(f"run exceeded {DEADLINE_S} s")
    raise Interrupted(f"signal {signum}")


def _clean_stale_work(root: str) -> None:
    """Remove work directories of earlier runs that were killed outright."""
    if not os.path.isdir(root):
        return
    for name in os.listdir(root):
        pid = name.removeprefix("run-")
        if pid.isdigit() and not procs.alive(int(pid)):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_digest() -> str:
    import hashlib

    h = hashlib.sha256()
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for d, _, files in sorted(os.walk(os.path.join(REPO, "meds_polars_functions_spark"))):
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _session(work: str, cpus: int, trace: bool):
    # one core stays free for the driver, the JIT compiler and the collector:
    # with every core running tasks, pass times on the same seed spread
    # twice as wide
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, cpus - 1))
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Python workers start from the JVM's environment, not the driver's
    # sys.path: point them at the package explicitly
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: a growing one makes peak RSS depend on when
        # the collector chose to expand it
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": REPO,
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    from meds_polars_functions_spark.session import get_spark

    return get_spark("perfbench", extra_conf=conf)


def _stop(spark, graceful: bool) -> None:
    """End the session and wait for every descendant to exit.

    A graceful stop calls ``spark.stop()`` first. After an interruption the
    interrupted call may have left the gateway connection unusable, so the
    JVM is ended directly. Either way the gateway JVM is ended by closing
    its stdin, and whatever still runs after STOP_TIMEOUT_S is killed."""
    gateway_proc = spark.sparkContext._gateway.proc
    if graceful:
        killer = threading.Timer(STOP_TIMEOUT_S, gateway_proc.kill)
        killer.start()
        try:
            spark.stop()
        except Exception:  # the JVM may already be gone; shut-down continues
            traceback.print_exc()
        finally:
            killer.cancel()
    try:
        gateway_proc.stdin.close()
    except OSError:
        pass
    try:
        gateway_proc.wait(STOP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        gateway_proc.kill()
        gateway_proc.wait()
    procs.reap_children(STOP_TIMEOUT_S)


def _env_record(spark, args, inputs, cpus) -> dict:
    sc = spark.sparkContext
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cpus": cpus,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": _git_commit(),
        "source_sha256": _source_digest(),
        "input_rows": inputs.rows,
        "input_bytes": inputs.bytes,
        "input_digest": inputs.digest,
    }


def _log_size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def _count_in_log(path: str, start: int, end: int, needle: bytes) -> int:
    with open(path, "rb") as f:
        f.seek(start)
        return f.read(max(0, end - start)).count(needle)


def hd_median(xs: list[float]) -> float:
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)-weighted
    mean of the order statistics. Steadier than the sample median when a
    run has few samples (one per query in a pass)."""
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    a = (n + 1) / 2
    t = np.linspace(0.0, 1.0, 4001)
    pdf = t ** (a - 1) * (1 - t) ** (a - 1)
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(weights @ x)


@dataclass
class Passes:
    """What the timed passes of one run measured."""

    walls: list[float] = field(default_factory=list)
    latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    spans: list = field(default_factory=list)
    peak_rss: int = 0


def _timed_passes(wl, seconds: float, tracer: Tracer | None, log_path: str) -> Passes:
    """Run the workload's ``timed_passes`` passes back to back, checking each
    pass's output after it. ``seconds`` is an upper limit: no pass starts
    once the passes so far took that long. A pass that raises counts its
    operations as failed; the run fails only if every pass raised."""
    out = Passes()
    spent = 0.0
    rss = procs.PeakRss()
    rss.start()
    try:
        for i in range(wl.timed_passes):
            if spent >= seconds:
                break
            log_start = _log_size(log_path)
            t = time.perf_counter()
            try:
                if tracer is None:
                    lat = wl.run_pass()
                else:
                    with tracer.span("pass", trace_id=f"pass-{i}") as span:
                        lat = wl.run_pass()
            except Exception as e:
                traceback.print_exc()
                out.attempted += wl.ops_per_pass()
                out.failed += wl.ops_per_pass()
                out.problems.append(f"pass raised {e!r:.200}")
                spent += time.perf_counter() - t
                continue
            out.walls.append(time.perf_counter() - t)
            spent += out.walls[-1]
            if tracer is not None:
                span.attrs["accumulator_errors"] = _count_in_log(
                    log_path, log_start, _log_size(log_path), b"non-existent accumulator")
                out.spans.append(span)
            out.latencies += lat
            out.attempted += wl.ops_per_pass()
            found = wl.check()
            out.failed += wl.failed_ops(found)
            out.problems += found
    finally:
        rss.stop()
    if not out.walls:
        raise RuntimeError(f"every timed pass raised: {out.problems}")
    out.peak_rss = rss.peak
    return out


def run(args, work: str, log_path: str) -> tuple[dict, dict]:
    from workloads import WORKLOADS

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        declared = json.load(f)
    wl = WORKLOADS[args.workload](work)
    cpus = len(os.sched_getaffinity(0))

    t = time.monotonic()
    inputs = wl.generate(args.seed)
    gen_s = time.monotonic() - t

    spark = None
    try:
        t = time.monotonic()
        spark = _session(work, cpus, bool(args.trace))
        start_s = time.monotonic() - t
        wl.bind(spark)
        t = time.monotonic()
        wl.warmup()
        warmup_s = time.monotonic() - t
        setup_s = time.monotonic() - T0 - gen_s
        env = _env_record(spark, args, inputs, cpus)

        tracer = Tracer(spark.sparkContext) if args.trace else None
        passes = _timed_passes(wl, args.seconds, tracer, log_path)
        if tracer is not None:
            with tracer.span("pass", trace_id="traced") as traced:
                wl.traced_pass(tracer)
            passes.problems += wl.check()
    except BaseException as e:
        if spark is not None:
            _stop(spark, graceful=not isinstance(e, Interrupted))
        raise
    _stop(spark, graceful=True)

    if not args.trace:
        wall = statistics.median(passes.walls)
        values = {
            "setup_s": setup_s,
            "wall_s": wall,
            "rows_per_s": inputs.rows / wall,
            "query_p50_s": hd_median(passes.latencies),
            "peak_rss_mb": passes.peak_rss / 2**20,
            "ok_ratio": (passes.attempted - passes.failed) / passes.attempted,
        }
        spec = declared["end_to_end"]
    else:
        (event_log,) = os.listdir(os.path.join(work, "events"))
        skew = fold_event_log(os.path.join(work, "events", event_log), tracer)
        values = layer_metrics(
            [m["name"] for m in declared["per_layer"]], tracer, plain=passes.spans[-1], traced=traced, skew=skew, inputs=inputs,
            slots=env["default_parallelism"], session_start_s=start_s, warmup_s=warmup_s,
            queries=getattr(wl, "order", []),
        )
        spec = declared["per_layer"]
        trace_path = os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.spans.jsonl")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        tracer.write(trace_path)
        env["trace_file"] = trace_path
    env["problems"] = passes.problems[:20]
    result = {
        "correct": not passes.problems,
        "attempted": passes.attempted,
        "failed": passes.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec},
    }
    return env, result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["meds_preprocess", "meds_extract", "registry_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    missing = [f for f in ("meds_polars_functions_spark", "__spark_entry__.py", "scripts")
               if not os.path.exists(os.path.join(REPO, f))]
    if missing:
        print(f"perfbench: program files missing next to perfbench/: {missing}", file=sys.stderr)
        return 2

    work_root = os.path.join(HERE, ".work")
    _clean_stale_work(work_root)
    work = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(work)
    procs.become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGALRM):
        signal.signal(sig, _on_signal)
    signal.alarm(DEADLINE_S)

    # The JVM inherits fd 2: its log goes to a file (read for error counts
    # and shown on failure) instead of the caller's terminal.
    log_path = os.path.join(work, "driver.log")
    real_stderr = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    code = 1
    try:
        env, result = run(args, work, log_path)
        print(json.dumps({"env": env}))
        print(json.dumps(result), flush=True)
        code = 0
    except BaseException:  # report, clean up below, exit non-zero
        traceback.print_exc()
        sys.stderr.flush()
        os.dup2(real_stderr, 2)
        with open(log_path, errors="replace") as f:
            tail = f.readlines()[-60:]
        sys.stderr.write("".join(tail))
    finally:
        signal.alarm(0)
        os.dup2(real_stderr, 2)
        procs.reap_children(STOP_TIMEOUT_S)
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
