"""Run one perfbench workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload ingest_query --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics (setup_s, fixpoint_s,
facts_per_s, query_ms); ``--trace 1`` prints the per-layer metrics
(see perfbench/README.md). The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is the
host record, with each metric's sample count. Spark runs as local[4] in
this one Python process, as a closed loop with one caller: each write
operation (a fixpoint or an incremental batch) is followed by a block of
facade/SPARQL calls against its result.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_WRITES = 3
# kg_build's six call kinds rotate over three 2-call blocks
TRACED_CALL_BLOCKS = 3


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Session:
    """The benchmark's Spark session and its JVM."""

    def __init__(self, scratch: str) -> None:
        self.scratch = scratch
        self.spark = None
        self.proc = None

    def start(self):
        from arachne_spark.session import build_session

        self.spark = build_session(
            "perfbench", cores=4, shuffle_partitions=4, master="local[4]",
            extra={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "2g",
                "spark.local.dir": self.scratch,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.scratch}",
            },
        )
        self.proc = self.spark.sparkContext._gateway.proc
        return self.spark

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        if self.proc is not None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except Exception:
                self.proc.kill()
                self.proc.wait()
        self.spark = None


class Tally:
    """Operation outcomes and latencies of one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.write_s: list[float] = []
        self.facts_per_s: list[float] = []
        self.call_ms: dict[str, list[float]] = {}  # per call kind

    def query_ms(self) -> float:
        """Geometric mean over call kinds of each kind's median latency: one
        number per run that does not jump when the overall median falls
        between two kinds of different cost."""
        meds = [statistics.median(v) for v in self.call_ms.values()]
        return statistics.geometric_mean(meds)

    def fail(self, what: str) -> None:
        self.failed += 1
        log(f"FAILED {what}")


def warm_up(wl, tally: Tally, tracer) -> None:
    """The workload's one-off start, then untimed writes and one call block:
    the first write in a JVM costs about twice a warm one, and the JIT
    keeps cutting CPU time over the next few. A start that computes a
    fixpoint (ingest_query's base) is an operation too, checked like a
    write."""
    t0 = time.time()
    wl.start()
    if wl.result is not None:
        tally.attempted += 1
        bad = wl.check(wl.result)
        if bad:
            tally.fail(f"{wl.name} set-up: {'; '.join(bad)}")
    for _ in range(wl.warm_writes):
        write_op(wl, tally, tracer, record=False)
    t1 = time.time()
    call_block(wl, tally, tracer, record=False)
    log(f"warm-up write={t1 - t0:.1f}s calls={time.time() - t1:.1f}s")


def write_op(wl, tally: Tally, tracer, record: bool):
    """One write operation, timed; its output is checked afterwards."""
    wl.prepare()
    tally.attempted += 1
    t0 = time.perf_counter()
    try:
        res = wl.write(tracer)
    except Exception:
        tally.fail(f"{wl.name} write\n{traceback.format_exc()}")
        return None, 0.0
    dt = time.perf_counter() - t0
    try:
        bad = wl.check(res)
    except Exception:
        bad = [traceback.format_exc()]
    if bad:
        tally.fail(f"{wl.name} write: {'; '.join(bad)}")
    elif record:
        tally.write_s.append(dt)
        tally.facts_per_s.append(res.facts_count / dt)
    return res, dt


def call_block(wl, tally: Tally, tracer, record: bool, per_kind=None):
    """The next seeded block of facade/SPARQL calls, each timed until its
    count or bool returns and compared with the modelled answer."""
    from arachne_spark.facade import Reasoner

    reasoner = Reasoner.from_result(wl.result)
    for call in wl.calls():
        tally.attempted += 1
        layer = "sparql" if call.sparql else "facade"
        t0 = time.perf_counter()
        try:
            with tracer.span(layer):
                got = call.run(reasoner)
        except Exception:
            tally.fail(f"{call.kind}\n{traceback.format_exc()}")
            continue
        ms = (time.perf_counter() - t0) * 1e3
        if got != call.expected:
            tally.fail(f"{call.kind} {call.sparql or ''}: {got!r} != {call.expected!r}")
        elif record:
            tally.call_ms.setdefault(call.kind, []).append(ms)
            if per_kind is not None:
                key = "sparql.select_ms" if call.sparql else f"facade.{call.kind}_ms"
                per_kind.setdefault(key, []).append(ms)
                if call.sparql:
                    from arachne_spark.sparql import parse_sparql

                    t1 = time.perf_counter()
                    parse_sparql(call.sparql)
                    per_kind.setdefault("sparql.parse_ms", []).append(
                        (time.perf_counter() - t1) * 1e3)


def measure(args, session: Session, workload_cls) -> tuple[Tally, dict, dict]:
    """Untraced run: one set-up (process start, session, inputs, warm-up
    cycle), then write+call cycles for ``--seconds`` (at least MIN_WRITES)."""
    from perfbench.tracing import NullTracer

    tally, tracer = Tally(), NullTracer()
    t0 = time.time()
    spark = session.start()
    session_s = time.time() - t0
    wl = workload_cls(spark, args.seed)
    t_warm = time.time()
    warm_up(wl, tally, tracer)
    t0 = time.time()
    t_warm, setup_s = t0 - t_warm, t0 - T_START
    while time.time() - t0 < args.seconds or len(tally.write_s) < MIN_WRITES:
        if tally.failed > 20:
            break
        write_op(wl, tally, tracer, record=True)
        call_block(wl, tally, tracer, record=True)
    if not tally.write_s or not tally.call_ms:
        raise RuntimeError("no successful operation to report")
    metrics = {
        "setup_s": (setup_s, "s"),
        "fixpoint_s": (statistics.median(tally.write_s), "s"),
        "facts_per_s": (statistics.median(tally.facts_per_s), "facts/s"),
        "query_ms": (tally.query_ms(), "ms"),
    }
    n_calls = sum(map(len, tally.call_ms.values()))
    samples = {"setup_s": 1, "fixpoint_s": len(tally.write_s),
               "facts_per_s": len(tally.write_s), "query_ms": n_calls}
    log(f"writes={len(tally.write_s)} calls={n_calls} session={session_s:.1f}s "
        f"warm-up={t_warm:.1f}s setup={setup_s:.1f}s measured={time.time() - t0:.1f}s "
        f"writes_s={[round(w, 2) for w in tally.write_s]}")
    return tally, metrics, samples


def traced(args, session: Session, workload_cls) -> tuple[Tally, dict, dict]:
    """Traced run: per-layer self times, job/task counts by tag, the
    unaccounted remainder and the tracing overhead."""
    from perfbench import layers
    from perfbench.tracing import NullTracer, Tracer

    t0 = time.time()
    spark = session.start()
    session_start = time.time() - t0
    wl = workload_cls(spark, args.seed)
    tally, null, tracer = Tally(), NullTracer(), Tracer(spark)
    warm_up(wl, tally, null)
    # traced, untraced, traced: the overhead estimate cancels a linear
    # warm-up trend across the three writes
    traced_s, untraced_s, rows = [], 0.0, None
    for tr in (tracer, null, tracer):
        n_prev = len(wl.result.metrics)
        res, dt = write_op(wl, tally, tr, record=False)
        if tr is null:
            untraced_s = dt
            continue
        traced_s.append(dt)
        per_layer = tracer.collect()
        if rows is None and res is not None:
            rows = layers.write_layers(wl, res, dt, per_layer, n_prev)
    if rows is None:
        raise RuntimeError("no successful traced write to report")
    per_kind: dict = {}
    for _ in range(TRACED_CALL_BLOCKS):
        call_block(wl, tally, tracer, record=True, per_kind=per_kind)
    calls = tracer.collect()
    rows.update(layers.call_layers(calls, per_kind))
    rows["session.start_s"] = session_start
    rows["trace.overhead_s"] = statistics.median(traced_s) - untraced_s
    samples = {"traced_writes": len(traced_s),
               "traced_calls": sum(len(v) for k, v in per_kind.items()
                                   if k != "sparql.parse_ms")}
    return tally, {k: (v, layers.UNITS[k]) for k, v in rows.items()}, samples


def main(scratch: str, argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    from perfbench.tracing import peak_rss_mb, steal_seconds, tree_hash

    steal0 = steal_seconds()
    session = Session(scratch)
    try:
        run = traced if args.trace else measure
        tally, metrics, samples = run(args, session, WORKLOADS[args.workload])
        jvm_mb = peak_rss_mb(session.proc.pid)
    finally:
        session.close()
    host = {
        "host.steal_s": steal_seconds() - steal0,
        "host.nproc": float(os.cpu_count() or 0),
        "jvm.peak_rss_mb": jvm_mb,
        "driver.peak_rss_mb": peak_rss_mb(),
    }
    print(json.dumps({"host": host, "arachne_spark_tree": tree_hash(ROOT),
                      "workload": args.workload, "seed": args.seed,
                      "samples": samples}))
    if args.trace:
        metrics.update({k: (v, "s" if k.endswith("_s") else "MB" if k.endswith("_mb")
                            else "count") for k, v in host.items()})
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    try:
        import arachne_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import arachne_spark from {ROOT}: {e}")
        sys.exit(2)
    # Everything the run writes (Spark local dirs, JVM and Python temp
    # files) stays under the checkout and is removed on exit.
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    SCRATCH = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    os.environ["TMPDIR"] = tempfile.tempdir = SCRATCH
    os.environ["SPARK_LOCAL_DIRS"] = SCRATCH
    try:
        sys.exit(main(SCRATCH))
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:  # another run still uses it
            pass
