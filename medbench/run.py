"""Benchmark for the medallion analytics engine.

    python3 medbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The engine package must sit beside
this directory; without it the script exits with code 2 and prints no
result. Inputs are generated from ``--seed`` into a scratch directory
under the checkout, the program runs in one process on
``local[n]`` (n = usable cores), and the last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (see BENCHMARK.json).
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("medallion_batch", "lake_dml", "corpus_ingest")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the benchmark's own tests use a small one)")
    p.add_argument("--corrupt", action="store_true",
                   help="damage one output before the checks (tests that checks fail)")
    return p.parse_args(argv)


def _vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def start_spark(work: str, cores: int):
    """The engine's own session for a ``cores``-core host: its
    ``get_spark`` picks the master and shuffle partitions. The benchmark
    adds paths inside the checkout, quiet output and a fixed heap."""
    from aws_medallion_etl_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # no hsperfdata files in /tmp, from the launcher JVM or the Spark driver
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    # A fixed 2 GiB heap (-Xms = -Xmx) instead of the engine's half of
    # RAM: a heap that grows does so on timing-dependent GC choices
    # (peak RSS varied by 20% between runs), and a fixed heap the size of
    # half the RAM fills its young generation, so RSS reads ~7 GB on a
    # 15 GB host whatever the engine does.
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    spark = get_spark(
        app_name="medbench",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Xms{heap} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def reset_hwm() -> None:
    """Restart this process's VmHWM from its current RSS (Linux >= 4.0),
    so input generation does not count in ``peak_rss_mb``."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — escalate below
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "aws_medallion_etl_spark")):
        print(f"medbench: engine package not found beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import aws_medallion_etl_spark  # noqa: F401
    except Exception as e:  # noqa: BLE001
        print(f"medbench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    import harness
    import workloads

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".medbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t_gen = time.monotonic()
        wl = workloads.make(args.workload, work, args.seed, args.scale)
        wl.prepare()
        gen_s = time.monotonic() - t_gen
        reset_hwm()
        spark = start_spark(work, cores)
        ctx = harness.Context(spark, cores)
        wl.bind(ctx)
        wl.bootstrap()
        wl.warm_up()
        setup_s = time.monotonic() - T_PROCESS - gen_s - wl.untimed
        wl.untimed = 0.0
        if args.trace:
            result = harness.traced_run(wl, args.seconds)
        else:
            result = harness.untraced_run(wl, args.seconds)
            result["setup_s"] = setup_s
            # the engine's peak: read before the checks, which hold
            # whole tables in this process
            jvm = getattr(getattr(spark.sparkContext, "_gateway", None), "proc", None)
            rss = (_vm_hwm_mb(jvm.pid) if jvm is not None else 0.0, _vm_hwm_mb("self"))
            result["peak_rss_mb"] = sum(rss)
            print(f"medbench: peak RSS: JVM {rss[0]:.0f} MB, Python {rss[1]:.0f} MB",
                  file=sys.stderr)
        t_timed = time.monotonic()
        if args.corrupt:
            wl.corrupt()
        wl.verify()
        t_verify = time.monotonic()
        if not args.trace:
            result["space_amp"] = wl.space_amp()
        out = harness.report(wl, result, bool(args.trace))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    print(f"medbench: inputs {gen_s:.1f} s, set-up {setup_s:.1f} s, "
          f"timed {t_timed - T_PROCESS - gen_s - setup_s:.1f} s, "
          f"checks {t_verify - t_timed:.1f} s, total {time.monotonic() - T_PROCESS:.1f} s",
          file=sys.stderr)
    for kind in sorted({k for k, _, _ in wl.records}):
        print(f"medbench: {kind} " + " ".join(f"{d:.2f}" for d in wl.durations(kind)),
              file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
