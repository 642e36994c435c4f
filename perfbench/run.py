"""Seeded benchmark of the engine's pipeline and index-sync uses, their
reads, and two catalog keys. Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_cycles --seed 1 \
        --seconds 10 --trace 0

One process per run, ``local[$(nproc)]`` (``SPARK_GRAFT_CPUS``), one
client thread, closed loops. Inputs are written from the seed before the
timed region; outputs are checked after it. The last stdout line is the
JSON result: end-to-end metrics with ``--trace 0``, per-layer Spark work
and time with ``--trace 1``. A summary with the workload-specific
figures goes to stderr. ``README.md`` here maps layers to metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "spacex_data_engineering_pipeline_spark"
SETUPS = 3


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(round(q / 100 * len(s) + 0.5)) - 1))]


def _vm_hwm_kib(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_s(spark) -> float:
    """CPU seconds used so far by this process and, once it is up, the
    driver JVM, with the children it has waited for (its launcher).
    Set-up is measured in CPU time: on a shared host its wall time
    tracks the load of other tenants (on a 4-core host, four busy
    processes beside a run raised it by 50-100%; its CPU time stayed
    within 25%)."""
    total = time.process_time()
    proc = None
    if spark is not None:
        proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")
    return total


def _prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python UDF workers import the engine package by reference
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ["TZ"] = "UTC"  # collected timestamps compare as UTC walls
    time.tzset()
    sys.path[:0] = [ROOT, HERE]


def _start_spark(work: str):
    from counters import RETENTION_CONF

    from spacex_data_engineering_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            **RETENTION_CONF,
            # scratch files stay inside the run's work directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(spark, work: str) -> None:
    """The JVM's first-job costs, paid once in setup: a parquet write
    and a scan with a shuffle."""
    d = os.path.join(work, "warm")
    spark.range(1000).selectExpr("id", "id % 7 AS k").write.parquet(d)
    spark.read.parquet(d).groupBy("k").count().collect()
    shutil.rmtree(d, ignore_errors=True)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Ledger:
    """Operations of one run: (pass, kind, seconds, ok)."""

    def __init__(self):
        self.ops: list[tuple[int, str, float, bool]] = []
        self.pass_s: list[float] = []
        self.errors: list[str] = []

    def times(self, *kinds: str) -> list[float]:
        return [dt for _, k, dt, _ in self.ops if k in kinds]

    def outcome(self, state_checks: int, fails: list) -> tuple[int, int]:
        """(attempted, failed) once the output checks have run. Every
        operation and every whole-state check is attempted; an operation
        fails when it raised, took the wrong path, or its answer failed
        its check (``fails`` positions count in the last pass)."""
        last = [i for i, op in enumerate(self.ops) if op[0] == self.ops[-1][0]]
        bad = {i for i, op in enumerate(self.ops) if not op[3]}
        bad |= {last[pos] for pos, _ in fails if pos is not None}
        failed_states = sum(1 for pos, _ in fails if pos is None)
        return len(self.ops) + state_checks, len(bad) + failed_states


def run_pass(wl, ctx, p: int, book: Ledger, tracer=None) -> None:
    wl.start_pass(ctx, p)
    t_pass = time.perf_counter()
    for kind, fn in wl.ops(ctx, p):
        t0 = time.perf_counter()
        idx = tracer.open(f"op.{kind}") if tracer else None
        try:
            ok = bool(fn())
            err = None if ok else f"pass {p} {kind}: wrong result or path"
        except Exception as exc:  # a raising op is a failed op
            ok, err = False, f"pass {p} {kind}: {exc!r}"[:500]
        finally:
            if tracer:
                tracer.close(idx)
        book.ops.append((p, kind, time.perf_counter() - t0, ok))
        if err:
            book.errors.append(err)
    book.pass_s.append(time.perf_counter() - t_pass)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(
            f"perfbench: run from a checkout root holding {PACKAGE}/",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(
            f"perfbench: unknown workload {args.workload!r}; "
            f"one of {sorted(workloads.WORKLOADS)}",
            file=sys.stderr,
        )
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        _prepare_env(work)
        from counters import StatusReader

        # Set up SETUPS times (session start, first-job warm-up, seeded
        # inputs) and report the median CPU time: the first set-up also
        # launches the JVM, the later ones restart the session in it.
        setups = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            c0 = _cpu_s(spark)
            t0 = time.perf_counter()
            spark = _start_spark(work)
            t1 = time.perf_counter()
            _warm(spark, work)
            t2 = time.perf_counter()
            ctx = workloads.Context(
                spark, StatusReader(spark), os.path.join(work, f"setup{i}"), args.seed
            )
            wl = workloads.WORKLOADS[args.workload]()
            wl.prepare(ctx)
            t3 = time.perf_counter()
            setups.append(_cpu_s(spark) - c0)
            print(
                f"perfbench: set-up {i} {setups[-1]:.3f}s CPU, wall {t3 - t0:.3f}s"
                f" = session {t1 - t0:.3f}s + warm-up {t2 - t1:.3f}s"
                f" + inputs {t3 - t2:.3f}s",
                file=sys.stderr,
            )
            if i:
                shutil.rmtree(os.path.join(work, f"setup{i - 1}"), ignore_errors=True)
        setup_s = statistics.median(setups)

        book = Ledger()
        if args.trace:
            result = traced_run(wl, ctx, book)
        else:
            result = timed_run(wl, ctx, book, args.seconds, setup_s)
        t_check = time.perf_counter()
        state_checks, fails = wl.check(ctx)
        print(
            f"perfbench: checks {time.perf_counter() - t_check:.3f}s", file=sys.stderr
        )
        for msg in book.errors + [msg for _, msg in fails]:
            print(f"perfbench: FAILED {msg}", file=sys.stderr)
        attempted, failed = book.outcome(state_checks, fails)
        correct = not (book.errors or fails)
        if not args.trace:
            result["ok_ops_ratio"] = {
                "value": (attempted - failed) / attempted, "unit": "ratio"
            }
            print(
                f"perfbench: failed_ops_ratio {failed / attempted:.4f}"
                f" ({failed} of {attempted} operations and state checks)",
                file=sys.stderr,
            )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": result,
            }
        )
    )
    return 0


def timed_run(wl, ctx, book: Ledger, seconds: float, setup_s: float) -> dict:
    """Closed loop of whole passes within ``seconds``: another pass
    starts only while one more pass as long as the slowest so far still
    ends in time (at least one pass)."""
    t0 = time.perf_counter()
    j0 = ctx.reader.next_job_id()
    p = 0
    while p == 0 or time.perf_counter() - t0 + max(book.pass_s) <= seconds:
        run_pass(wl, ctx, p, book)
        p += 1
    timed = time.perf_counter() - t0
    work = ctx.reader.between(j0, ctx.reader.next_job_id())
    gateway_proc = getattr(ctx.spark.sparkContext._gateway, "proc", None)
    rss_kib = _vm_hwm_kib("self")
    if gateway_proc is not None:
        rss_kib += _vm_hwm_kib(gateway_proc.pid)
    rows = p * wl.rows()
    metrics = {
        "setup_s": (setup_s, "s"),
        "spark_jobs_per_pass": (work.spark_jobs / p, "count"),
        "spark_tasks_per_pass": (work.spark_tasks / p, "count"),
        "input_records_per_row": (work.input_records / rows, "ratio"),
        "shuffle_records_per_row": (work.shuffle_records / rows, "ratio"),
        "bytes_written_per_input_byte": (
            work.output_bytes / (p * wl.landed_bytes()), "ratio"
        ),
        "disk_bytes_end": (wl.disk_bytes(), "bytes"),
    }
    kinds = sorted({k for _, k, _, _ in book.ops})
    print(
        "perfbench: "
        + json.dumps(
            {
                "passes": p,
                "ops": len(book.ops),
                "timed_s": round(timed, 3),
                "wall_s": round(statistics.median(book.pass_s), 4),
                "write_s_mean": round(statistics.mean(book.times("write")), 4),
                "rows_per_s": round(rows / timed, 3),
                "ops_per_s": round(len(book.ops) / timed, 4),
                "peak_rss_mb": round(rss_kib / 1024, 1),
                "read_s_p90": round(_percentile(book.times("read"), 90), 4),
                **{f"{k}_s_mean": round(statistics.mean(book.times(k)), 4) for k in kinds},
            }
        ),
        file=sys.stderr,
    )
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def traced_run(wl, ctx, book: Ledger) -> dict:
    """One pass with every layer span on. Its wall time, against the
    untraced runs' ``wall_s``, is the tracing overhead (``sweep.py``)."""
    from spans import Tracer

    import layers

    tracer = Tracer(ctx.reader, ctx.spark.sparkContext)
    layers.install(tracer)
    ctx.tracer = tracer
    try:
        run_pass(wl, ctx, 0, book, tracer)
    finally:
        ctx.tracer = None
        tracer.unpatch()
    return layers.report(tracer, wl, ctx, book)


if __name__ == "__main__":
    sys.exit(main())
