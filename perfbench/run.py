#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one client, closed loop, on
``local[nproc]``: set up once from cold (session start + input
generation + preload), run the workload's warm-up ops, then run ops
until their summed time reaches ``--seconds`` and the workload's minimum
op count has run, ending on a whole request cycle. Every op's output is
checked against a reference outside the timed interval. The last stdout
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
the line before it records the machine, versions, input sizes and
sample counts.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces
alternate request cycles and reports per-layer metrics plus the tracing
overhead (traced ÷ untraced median op time within the same run).
See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# --------------------------------------------------------------------------
# machine and environment
# --------------------------------------------------------------------------
def machine() -> tuple[int, int]:
    """(usable cpus, memory MiB: the smaller of RAM and the cgroup limit)."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem = next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:"))
    with contextlib.suppress(OSError, ValueError):
        with open("/sys/fs/cgroup/memory.max") as f:
            mem = min(mem, int(f.read().strip()) // 2**20)
    return nproc, mem


def pin_env(run_dir: str, nproc: int, mem_mb: int) -> str:
    """Everything the session depends on is set here, not in the program:
    cores, a driver heap sized to this machine, no console progress bar,
    and every scratch path (Spark local dirs, JVM and Python temp files,
    the SQL warehouse, derby.log via the working directory) under the
    run's own directory."""
    driver_mem = f"{min(4096, max(1024, mem_mb // 16))}m"
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            # the driver heap is committed at its full size from the start,
            # so the JVM's resident peak does not hang on when G1 grows it
            f"--conf spark.driver.extraJavaOptions=-Xms{driver_mem} "
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')} "
            "pyspark-shell"
        ),
    })
    os.environ.pop("SPARK_GRAFT_DEFAULT_PARALLELISM", None)
    return driver_mem


def proc_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith(key + ":"))


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def proc_cpu(pid: int, children: bool = False) -> float:
    """CPU seconds of one process (plus its reaped children if asked)."""
    f = _stat(pid)
    ticks = int(f[11]) + int(f[12]) + ((int(f[13]) + int(f[14])) if children else 0)
    return ticks / os.sysconf("SC_CLK_TCK")


def host_ticks() -> tuple[int, int]:
    """(ticks stolen by the hypervisor, all ticks) from /proc/stat: the
    share stolen during the loop says whether other tenants slowed it."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def python_cpu(jvm_pid: int) -> float:
    """This process plus every live descendant of the JVM (the PySpark
    worker daemon and its workers, with the workers they reaped)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            with contextlib.suppress(OSError, IndexError):
                parent[int(entry)] = int(_stat(int(entry))[1])
    total = proc_cpu(os.getpid())
    for pid in parent:
        p, seen = parent.get(pid), 0
        while p is not None and p != jvm_pid and seen < 64:
            p, seen = parent.get(p), seen + 1
        if p == jvm_pid:
            with contextlib.suppress(OSError):
                total += proc_cpu(pid, children=True)
    return total


# --------------------------------------------------------------------------
def stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    nproc, mem_mb = machine()
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    driver_mem = pin_env(run_dir, nproc, mem_mb)
    os.chdir(run_dir)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, nproc, mem_mb, driver_mem, run_dir, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(work)  # kept only while it holds a traced run's spans


def _run(args, nproc, mem_mb, driver_mem, run_dir, work) -> int:
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    spark = wl = None
    result_line = info_line = None
    try:
        # one cold set-up: importing the program, launching the JVM and
        # building the session, generating the inputs, preloading the tables
        t0 = time.perf_counter()
        from etl_stack_spark.session import get_spark

        from perfbench import report
        from perfbench import trace as T
        from perfbench.layers import traced_layers
        from perfbench.workloads import SIZES, Ctx, dir_bytes

        spark = get_spark("perfbench", cpus=nproc)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = T.Tracer(spark.sparkContext, enabled=False)
        tables = os.path.join(run_dir, "tables")
        os.makedirs(tables)
        wl = WORKLOADS[args.workload](Ctx(spark, tracer, tables, args.seed))
        wl.setup()
        setup_s = time.perf_counter() - t0

        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        warm_errors = []
        t_warm = time.perf_counter()
        for _ in range(wl.warmup):
            payload = wl.prepare()
            warm_errors += wl.check(payload, wl.run(payload))[1]
        t_loop = time.perf_counter()
        ticks0 = host_ticks()

        ops = []
        elapsed = 0.0
        with traced_layers(tracer) if args.trace else contextlib.nullcontext():
            # a traced run alternates traced and untraced request cycles,
            # and needs at least one of each
            min_ops = max(wl.min_ops, 2 * wl.cycle) if args.trace else wl.min_ops
            while elapsed < args.seconds or len(ops) < min_ops or len(ops) % wl.cycle:
                i = len(ops)
                payload = wl.prepare()
                traced = bool(args.trace) and (i // wl.cycle) % 2 == 0
                tracer.enabled, tracer.op = traced, i
                if traced:
                    cpu0 = (proc_cpu(jvm_pid), python_cpu(jvm_pid))
                t0 = time.perf_counter()
                errors, rows, result = [], 0, None
                try:
                    with tracer.span("op"):
                        result = wl.run(payload)
                except Exception:
                    errors.append(traceback.format_exc(limit=3))
                dt = time.perf_counter() - t0
                rec = {"i": i, "dt": dt, "traced": traced, "rows": 0}
                if traced:
                    rec["jvm_cpu"] = proc_cpu(jvm_pid) - cpu0[0]
                    rec["py_cpu"] = python_cpu(jvm_pid) - cpu0[1]
                    tracer.finish_op()
                tracer.enabled = False
                if not errors:
                    try:
                        rows, errors = wl.check(payload, result)
                    except Exception:
                        errors = [traceback.format_exc(limit=3)]
                if traced:
                    tracer.job_stats(tracer.spans_of(i))
                rec.update(rows=rows, errors=errors)
                ops.append(rec)
                elapsed += dt
                if i == 0:
                    # after a fixed op, not at the end: superseded snapshots
                    # pile up per op, and the op count varies run to run
                    disk_mb = sum(dir_bytes(d) for d in wl.table_dirs()) / 2**20

        phases = {"warmup": t_loop - t_warm, "loop": time.perf_counter() - t_loop}
        ticks1 = host_ticks()
        steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        hwm_mb = {"jvm": proc_kb(jvm_pid, "VmHWM") / 1024,
                  "python": proc_kb(os.getpid(), "VmHWM") / 1024}
        rss_mb = sum(hwm_mb.values())
        if args.trace:
            metrics, extra = report.per_layer(tracer.spans, ops, session_s, nproc)
            tracer.dump(os.path.join(work, f"spans-{args.workload}.jsonl"))
        else:
            metrics, extra = report.end_to_end(ops, setup_s, rss_mb, disk_mb)
        failed = sum(1 for o in ops if o["errors"])
        for o in ops:
            for e in o["errors"][:2]:
                print(f"op {o['i']}: {e}", file=sys.stderr)
        for e in warm_errors[:2]:
            print(f"warm-up: {e}", file=sys.stderr)
        info_line = json.dumps({"info": {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc, "memory_mb": mem_mb,
            "driver_memory": driver_mem, "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0], "sizes": SIZES[args.workload],
            "setup_s": round(setup_s, 4), "session_start_s": round(session_s, 4),
            "warmup_ops": wl.warmup, "loop": "closed, 1 client",
            "op_s": [round(o["dt"], 4) for o in ops],
            "phases_s": {k: round(v, 2) for k, v in phases.items()},
            "loop_steal_share": round(steal, 4),
            "peak_rss_mb": {k: round(v, 1) for k, v in hwm_mb.items()}, **extra,
        }})
        result_line = json.dumps({
            "correct": failed == 0 and not warm_errors,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": report.UNITS[k]} for k, v in metrics.items()},
        })
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_session(spark)
    print(info_line)
    print(result_line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
