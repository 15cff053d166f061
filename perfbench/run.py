#!/usr/bin/env python3
"""Seeded filter / curate benchmark for wtq.

    python3 perfbench/run.py --workload {filter,curate} --seed N --seconds S --trace {0,1}

Run it from the repository root.  The seed picks the generated corpus
(perfbench/corpus.py); the program only ever sees those pages.  One
driver process runs one closed loop on local[<usable cores>]: one
client, one Spark job chain at a time, the next iteration starting when
the previous one has finished.  The workloads are in
perfbench/workloads.py; `build` runs there too, but only the traced run
uses it.

--trace 0 times the workload and prints the end-to-end metrics:

* setup_s: get_spark plus the first (cold) iteration, in this driver
  process with its own JVM.  Corpus generation, the oracle reference
  and the iteration's check are the benchmark's own work and are not
  part of it.
* docs_per_cpu_s: input pages / median CPU seconds of the measured
  iterations, each from the read to every sink written.  After the
  set-up, the workload's `warmup` untimed (but checked) iterations run;
  then the loop measures its `measured` iterations, and more only while
  --seconds has not yet passed.  The CPU is that of the whole process
  tree: this driver, its JVM and the JVM's Python workers.  Unlike the
  wall throughput (docs_per_s, logged to stderr with the host's steal
  share) it leaves out the time the hypervisor gives other guests on a
  shared host, which moved the wall figure by up to a third between
  runs on a 4-vCPU VM.  Busy neighbours still make each CPU-second do
  less work, so it moves with them too, though less.

Every iteration's outputs are checked after its timed span
(perfbench/checks.py); `attempted` counts iterations and `failed` those
that raised or failed their check, so failed / attempted is the error
fraction.

--trace 1 is a separate, untimed run that prints the per-layer metrics
(perfbench/layers.py).

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics.  Scratch files, Spark's local
directories and temporary files go to a per-run directory under
.perfbench_cache/ at the repository root, which is removed at exit;
generated corpora and oracle references are cached there by seed.
Before it exits, the run stops the JVM and waits for it and the Python
workers to end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
NPROC = len(os.sched_getaffinity(0))
CLK_TCK = os.sysconf("SC_CLK_TCK")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def declared_metrics(section: str) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares in `section`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def result_line(
    measured: dict[str, float], section: str, attempted: int, failed: int
) -> dict:
    units = declared_metrics(section)
    if set(measured) != set(units):
        raise RuntimeError(
            f"measured metrics differ from BENCHMARK.json {section}: "
            f"undeclared {sorted(set(measured) - set(units))}, "
            f"missing {sorted(set(units) - set(measured))}"
        )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": measured[k], "unit": units[k]} for k in sorted(measured)},
    }


def _vmrss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root_pid: int) -> list[int]:
    """Pids of every live process below `root_pid`, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # "pid (comm) state ppid ..." — comm may contain spaces or ')'
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(name))
    out, stack = [], list(children.get(root_pid, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) used so far by
    this process and its descendants: the driver, its JVM and the
    JVM's Python workers."""
    ticks = 0
    for pid in (os.getpid(), *descendants(os.getpid())):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def host_steal_s() -> float:
    """CPU seconds the hypervisor has run other guests on this host's
    CPUs, summed over the CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


class Meter:
    """Wall seconds, process-tree CPU seconds and the host's steal
    share over a block."""

    def __enter__(self) -> "Meter":
        self._cpu, self._steal = tree_cpu_s(), host_steal_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        self.cpu = tree_cpu_s() - self._cpu
        self.steal_frac = (host_steal_s() - self._steal) / (self.wall * os.cpu_count())


class TreeRssSampler:
    """Peak summed VmRSS of this process's descendants (the driver JVM
    and its Python workers), sampled every `period` seconds."""

    def __init__(self, period: float = 0.05):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.period):
            rss = sum(_vmrss_kb(p) for p in descendants(pid))
            self.peak_kb = max(self.peak_kb, rss)

    def __enter__(self) -> "TreeRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Tally:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0


def attempt(wl, spark, work: str, tally: Tally, tracer=None, inspect=None) -> Meter | None:
    """One timed iteration of `wl` and its check; returns the Meter of
    the iteration, or None when it raised or failed its check.  A
    traced run passes a `tracer` context to wrap the iteration in and
    an `inspect(out, result)` hook that reads the outputs before they
    are removed."""
    out = tempfile.mkdtemp(prefix="iter-", dir=work)
    tally.attempted += 1
    try:
        with tracer or contextlib.nullcontext(), Meter() as meter:
            result = wl.iterate(spark, out)
        problems = wl.check(spark, out, result)
        if inspect is not None and not problems:
            inspect(out, result)
    except Exception:  # a failed iteration is counted, not fatal
        log(traceback.format_exc())
        tally.failed += 1
        return None
    finally:
        shutil.rmtree(out, ignore_errors=True)
    if problems:
        log("check failed:\n  " + "\n  ".join(problems))
        tally.failed += 1
        return None
    return meter


def start_spark(work: str, extra_conf: dict[str, str] | None = None):
    from wtq.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    conf.update(extra_conf or {})
    return get_spark("wtq-perfbench", master=f"local[{NPROC}]", extra_conf=conf)


def stop_processes(timeout: float = 60.0) -> None:
    """Stop any Spark session, close the JVM gateway (the JVM exits when
    its stdin closes) and wait until every process this one started has
    ended."""
    pids = descendants(os.getpid())
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout)
            SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def prepare(args):
    """The seed's pages and the workload object; the benchmark's own
    work, done before anything is timed."""
    import pyarrow.parquet as pq

    from perfbench import corpus
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    pages = corpus.ensure_seeded_pages(args.seed, CACHE)
    ref = corpus.oracle_reference(args.seed, CACHE, pages, NPROC) if cls.needs_oracle else None
    return cls(pages, NPROC, ref), pq.read_metadata(pages).num_rows


def timed_run(args, work: str) -> dict:
    wl, n_pages = prepare(args)
    tally = Tally()
    # One set-up per run: each is a JVM start plus a cold iteration,
    # 25-40 s on a 4-core host, so a second one per run would not fit
    # the benchmark's time budget.  setup_s is steadied by the median
    # over runs instead.
    t0 = time.perf_counter()
    spark = start_spark(work)
    started = time.perf_counter() - t0
    cold = attempt(wl, spark, work, tally)
    if cold is None:
        raise RuntimeError("the set-up iteration failed")
    setup_s = started + cold.wall
    # The JVM keeps warming up (JIT, heap sizing) after the cold
    # iteration: on a quiet 4-vCPU host the CPU per iteration falls by
    # about a third over the next five and by a fifth more over the
    # fifteen after them, and falls longer on a busy host.  The untimed warm-up takes
    # the steepest part out.  If --seconds bounded the loop, the host's
    # speed would pick the median (a busy host fits fewer, earlier and
    # dearer iterations), so a count bounds it: `wl.measured` iterations
    # take longer than --seconds even on a quiet host, and the median is
    # always that of the same iterations.
    for _ in range(wl.warmup):
        attempt(wl, spark, work, tally)
    warm: list[Meter] = []
    t_loop = time.perf_counter()
    while len(warm) < wl.measured or time.perf_counter() - t_loop < args.seconds:
        m = attempt(wl, spark, work, tally)
        if m is not None:
            warm.append(m)
        elif tally.failed > 2 * len(warm) + 1:
            raise RuntimeError("most iterations fail; no throughput to report")
    log(f"{args.workload} seed={args.seed} pages={n_pages} setup_s={setup_s} "
        f"measured {time.perf_counter() - t_loop:.1f}s, "
        f"warm (wall, cpu, steal)={[(m.wall, m.cpu, m.steal_frac) for m in warm]}")
    log(f"error_frac {tally.failed / tally.attempted} (failed {tally.failed} / attempted {tally.attempted})")
    log(f"docs_per_s {n_pages / statistics.median(m.wall for m in warm)} (wall; host steal "
        f"{statistics.median(m.steal_frac for m in warm):.3f})")
    measured = {
        "docs_per_cpu_s": n_pages / statistics.median(m.cpu for m in warm),
        "setup_s": setup_s,
    }
    return result_line(measured, "end_to_end", tally.attempted, tally.failed)


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(CACHE, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=CACHE)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep Spark, its Python workers and tempfile inside the checkout;
    # the workers import wtq through PYTHONPATH whatever their cwd
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        if args.trace:
            from perfbench.layers import traced_run

            line = traced_run(args, work)
        else:
            line = timed_run(args, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    # the repository root, not this directory, leads the import path
    sys.path[0] = ROOT
    sys.exit(main())
