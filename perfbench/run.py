"""olympian_spark benchmark: one closed-loop workload per invocation.

Run from the root of an olympian_spark checkout:

    python3 perfbench/run.py --workload suite_sf01 --seed 1 --seconds 7 --trace 0

Workloads (BENCHMARK.json lists the two the benchmark gates on, and why):

- ``suite_sf01``: build_tiers + 5 output counts, then the 10 ``bench.py``
  queries, over a generated sf0.1-shaped events table (100k events).
- ``refresh_daily``: one daily incremental refresh into a manifest catalog
  holding 21 days of a 2M-turn generated history, then a pruned catalog read.
- ``pipeline_2m``: build_tiers + 5 output counts over 2M generated turns with
  one conversation holding 20% of them. A run takes about 80 s, more than
  the benchmark's per-run budget allows, so it is run by hand.

``--trace 0`` prints the end-to-end metrics:

- ``setup_s``: session start, input generation and warm-up;
- ``wall_s``: one timed pass, median over the run's timed passes;
- ``op_p50_s``: median latency of the workload's repeated operation (a
  query; a daily refresh; a pipeline pass) over the run;
- ``op_tail_s``: per timed pass, the highest percentile of its operations'
  latencies with at least ten samples beyond it (the slowest operation when
  a pass has ten or fewer), median over the run's timed passes.

A run times ``--seconds`` divided by a warm pass's typical length on a
4-vCPU machine passes, rounded, and at least one (see ``workloads.Run.loop``).

``--trace 1`` alternates untraced and traced passes and prints per-layer
counters from the traced ones (see tracing.py), the tracing overhead and the
peak RSS of the process tree. Spans go to
``.perfbench/spans/<workload>-seed<n>.jsonl``.

Before the result, stdout carries the input properties, notes (throughput,
per-pass times including the warm-up's, host CPU steal, peak RSS by process
kind) and one line per failed check. The
last line is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``. Everything the run writes stays under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".perfbench")
MB = float(1 << 20)


def _tree_rss_bytes(root_pid: int) -> dict[str, int]:
    """RSS of ``root_pid`` and its descendants, by kind of process."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    parts = {"main": 0, "jvm": 0, "workers": 0}
    todo = [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        kind = "main" if pid == root_pid else "jvm" if comm == "java" else "workers"
        parts[kind] += rss
    return parts


class RssSampler(threading.Thread):
    """Samples the RSS of this process and all its descendants."""

    def __init__(self, interval_s: float = 0.25):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop_event = threading.Event()

    def run(self) -> None:
        pid = os.getpid()
        while not self._stop_event.wait(self.interval_s):
            parts = _tree_rss_bytes(pid)
            if sum(parts.values()) > self.peak:
                self.peak, self.peak_parts = sum(parts.values()), parts

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def _cpu_times() -> tuple[int, int]:
    """Host CPU steal and total time in jiffies, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _confine_to_checkout(work: str) -> None:
    """Point every temporary location of Spark, the JVM and Python at ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: the JVM writes /tmp/hsperfdata_<user> whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("suite_sf01", "pipeline_2m", "refresh_daily"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "olympian_spark", "__init__.py")):
        print("perfbench: run from the root of an olympian_spark checkout", file=sys.stderr)
        return 2

    work = os.path.join(OUT, f"work-{os.getpid()}")
    _confine_to_checkout(work)
    import workloads

    sampler = RssSampler()
    sampler.start()
    cpu0 = _cpu_times()
    run = None
    try:
        run = workloads.Run(args.seed, args.seconds, bool(args.trace), work)
        run.execute(getattr(workloads, args.workload))
        if args.trace:
            metrics = run.per_layer(sampler.peak / MB)
            spans_dir = os.path.join(OUT, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            spans_path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl")
            run.tracer.write(spans_path)
            notes = {"spans": os.path.relpath(spans_path, ROOT)}
    finally:
        if run is not None:
            run.close()
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace:
        metrics, notes = run.end_to_end()
    cpu1 = _cpu_times()
    # time the host gave this machine's CPUs to others, over the whole run
    notes["cpu_steal_pct"] = round(100.0 * (cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1), 2)
    notes["peak_rss_mb"] = {"total": round(sampler.peak / MB),
                            **{k: round(v / MB) for k, v in sampler.peak_parts.items()}}

    print(f"workload {args.workload} seed {args.seed}")
    print("inputs " + json.dumps(run.props))
    print("notes " + json.dumps(notes))
    for f in run.failures:
        print("FAILED " + f)
    print(f"op_fail_ratio {run.failed / max(run.attempted, 1)}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
