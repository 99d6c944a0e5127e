"""Session, set-up, measurement and result assembly shared by all workloads."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import metrics

ROOT = Path(__file__).resolve().parent.parent


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Context:
    spark: object
    work: Path
    seed: int
    nproc: int
    layers: object = None   # a trace.Tracer while tracing, else None

    @property
    def inp(self) -> Path:
        return self.work / "input"


@dataclass
class Measure:
    """What a workload's measured window produced."""

    unit_s: list[float] = field(default_factory=list)   # one per unit of work
    items: int = 0                                      # records/queries/docs done
    window_s: float = 0.0
    latency_ms: list[float] = field(default_factory=list)
    op_cpu_ms: list[float] = field(default_factory=list)  # CPU per query / probe
    cpu_s: float = 0.0                                  # CPU seconds in the window
    attempted: int = 0
    failed: int = 0
    outputs: dict = field(default_factory=dict)         # what the checks read


def session(work: Path, cores: int, extra: dict[str, str] | None = None):
    """The program's session factory, with every scratch path in ``work``."""
    from meerkat_abacus_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # get_spark's own -Xss64m is kept; the temp dir moves into the checkout
        "spark.driver.extraJavaOptions": f"-Xss64m -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra or {})
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        sc._gateway.shutdown()
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — the JVM must not outlive the run
            proc.kill()
            proc.wait()


def _status_kb(pid: str, key: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(key + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    kb = _status_kb("self", "VmHWM") + _status_kb(str(jvm_pid(spark)), "VmHWM")
    return kb / 1024.0


def cpu_s(spark) -> float:
    """CPU seconds used so far by the driver JVM plus this Python process
    (user + system; time stolen by the hypervisor or spent waiting on I/O
    is not counted)."""
    fields = Path(f"/proc/{jvm_pid(spark)}/stat").read_text().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    mine = os.times()
    return jvm + mine.user + mine.system


def jvm_write_bytes(spark) -> int:
    try:
        for line in Path(f"/proc/{jvm_pid(spark)}/io").read_text().splitlines():
            if line.startswith("write_bytes:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1])."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def end_to_end(m: Measure, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(m.unit_s),
        "cpu_s": m.cpu_s / len(m.unit_s),
        "op_cpu_ms": statistics.median(m.op_cpu_ms),
    }


def host_cpu() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat (jiffies per state)."""
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]


def host_shares(before: list[int], after: list[int]) -> dict:
    """Share of CPU time the VM spent stolen by the hypervisor, waiting on
    I/O and idle between two :func:`host_cpu` readings, so a reader can
    tell how noisy the machine was while a run measured."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"steal": d[7] / total, "iowait": d[4] / total, "idle": d[3] / total}


def restart_gateway() -> None:
    """Forget the stopped JVM so the next session launches a fresh one."""
    from pyspark import SparkContext

    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up(workload, ctx: Context, repeats: int) -> tuple[object, list[float]]:
    """Generate inputs and set up ``repeats`` times; returns the last state."""
    samples = []
    for rep in range(repeats):
        t = time.perf_counter()
        workload.generate(ctx, rep)
        state = workload.setup(ctx, rep)
        samples.append(time.perf_counter() - t)
    return state, samples


def measured(workload, ctx: Context, state, seconds: float) -> Measure:
    workload.warm(ctx, state)
    cpu0 = cpu_s(ctx.spark)
    m = workload.measure(ctx, state, seconds)
    m.cpu_s = cpu_s(ctx.spark) - cpu0
    return m


def provenance(seed: int, cores: int) -> dict:
    """What a reader needs to reject numbers from another host or a
    modified tree."""
    import pyspark

    def run(*cmd):
        try:
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                 timeout=10)
        except (OSError, subprocess.TimeoutExpired):
            return None
        return out if out.returncode == 0 else None

    head = run("git", "rev-parse", "HEAD")
    status = run("git", "status", "--porcelain", "--untracked-files=no")
    java = run("java", "-version")
    return {
        "seed": seed,
        "nproc": cores,
        "spark": pyspark.__version__,
        "java": next((line for line in java.stderr.splitlines() if "version" in line),
                     "unknown") if java else "unknown",
        "python": sys.version.split()[0],
        "commit": head.stdout.strip() if head else "unknown (not a git checkout)",
        "dirty": bool(status.stdout.strip()) if status else None,
    }


def run(workload, work: Path, seed: int, seconds: float, trace: bool,
        setup_repeats: int) -> tuple[dict, dict]:
    """Set up, measure, check; returns (result line, report line)."""
    cores = nproc()
    if trace:
        from perfbench import trace as tracing

        values, outcome, report = tracing.traced_run(workload, work, seed, seconds, cores)
    else:
        t0 = time.perf_counter()
        spark = session(work, cores)
        session_s = time.perf_counter() - t0
        try:
            ctx = Context(spark, work, seed, cores)
            state, setups = set_up(workload, ctx, setup_repeats)
            host0 = host_cpu()
            m = measured(workload, ctx, state, seconds)
            host = host_shares(host0, host_cpu())
            outcome = {"attempted": m.attempted, "failed": m.failed,
                       "failures": workload.check(ctx, state, m)}
            values = end_to_end(m, session_s + statistics.median(setups))
            report = {"session_start_s": session_s, "setup_samples_s": setups,
                      "peak_rss_mb": peak_rss_mb(spark), "host_cpu_shares": host,
                      "samples": {"unit_s": m.unit_s, "latency_n": len(m.latency_ms),
                                  "latency_p50_ms": quantile(m.latency_ms, 0.5),
                                  "latency_p90_ms": quantile(m.latency_ms, 0.9),
                                  "items_per_s": m.items / m.window_s,
                                  "op_cpu_ms": m.op_cpu_ms},
                      "output_digests": m.outputs.get("digests")}
        finally:
            stop_session(spark)
    report["workload"] = workload.name
    report["provenance"] = provenance(seed, cores)
    specs = metrics.PER_LAYER if trace else metrics.END_TO_END
    failures = outcome["failures"]
    report["check_failures"] = failures
    result = {
        "correct": not failures,
        # the output check is one more operation
        "attempted": outcome["attempted"] + 1,
        "failed": outcome["failed"] + (1 if failures else 0),
        "metrics": {s.name: {"value": float(values[s.name]), "unit": s.unit}
                    for s in specs},
    }
    return result, report
