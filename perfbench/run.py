"""ER benchmark: one closed-loop client resolving a generated corpus.

    python3 perfbench/run.py --workload full_small --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. A single client submits each resolution
only after the previous one has finished, at ``local[<cores>]``. Progress
and a readable table go to stderr; the last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.

Each run is one batch job: set-up (session start and input generation) is
reported as ``setup_s``; the timed resolution is the first of its kind in
the process, so it pays the cold costs a batch job pays (JIT, code
generation, Python worker start-up).

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
runs the same set-up and timed loop, then one more untimed resolution as
the warm reference and one traced resolution (spans and Spark job groups
per stage, see tracing.py), and reports the per-layer metrics instead. On
the incremental workload the reference and the traced resolution are the
update alone, each onto a fresh copy of the state the timed resolution
bootstrapped. Every resolution's output is checked; a failed check counts
as a failed resolution and makes the exit code non-zero.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T_START = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


# ---- process-tree memory ------------------------------------------------------


def _tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the driver
    JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.interval_s):
            self.peak = max(self.peak, _tree_rss_bytes(pid))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---- session ------------------------------------------------------------------


def cores() -> int:
    return len(os.sched_getaffinity(0))


# The driver JVM's heap, fixed in size and touched in full while the session
# starts. The `small` workloads peak well under it. A heap that grows during
# a timed resolution pays for its page faults there, and on a virtual
# machine whose freed memory goes back to the host those faults are slow
# and vary from run to run (a first touch of 2 GiB took 0.6-2.4 s on the
# baseline host).
HEAP = "2g"


def start_spark(work: str):
    """A session whose scratch space (shuffle files, temp files) lives in the
    work directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    from sbb_ned_spark.config import PipelineConfig
    from sbb_ned_spark.session import get_spark

    session_conf = PipelineConfig(
        extra_spark_conf={
            "spark.local.dir": local,
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
    )
    return get_spark("perfbench", master=f"local[{cores()}]", config=session_conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def settle(spark) -> None:
    """Start a timed resolution from a settled host: no garbage left over
    from set-up in either heap and no dirty pages from the input or state
    copies waiting to be written back while the clock runs."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    os.sync()


# ---- metrics ------------------------------------------------------------------


def traced_resolution(spark, wl, run_name: str):
    """One ``light=False`` resolution of the workload's trace target with
    the tracer's wrappers installed; returns the tracer and the resolution."""
    from perfbench.tracing import Tracer

    target = wl.trace_target(light=False)
    tracer = Tracer(spark, run_name, count_keys=wl.incremental)
    with tracer.patched():
        tracer.start("exact_groups")
        try:
            res = target()
        finally:
            tracer.finish()
    return tracer, res


def per_layer(
    tracer,
    res,
    n_input: int,
    untraced_wall_s: float,
    phases: dict[str, float],
) -> dict[str, tuple[float, str]]:
    from perfbench.tracing import STAGES, fold_counters

    per, total, _ = fold_counters(tracer)
    walls = tracer.stage_walls()
    n = cores()
    out: dict[str, tuple[float, str]] = {}
    for st in STAGES:
        c = per[st]
        wall = walls.get(st, 0.0)
        rows = (res.stage_rows.get(st) or {}).get("rows_out")
        if st == "blocking_keys" and rows is None:
            rows = tracer.cold_rows
        out[f"{st}.wall_s"] = (wall, "s")
        out[f"{st}.jobs"] = (c.jobs, "count")
        out[f"{st}.tasks"] = (c.tasks, "count")
        out[f"{st}.rows_out"] = (rows or 0, "count")
        out[f"{st}.executor_run_s"] = (c.executor_run_s, "s")
        out[f"{st}.jvm_cpu_s"] = (c.jvm_cpu_s, "s")
        out[f"{st}.gc_s"] = (c.gc_s, "s")
        out[f"{st}.shuffle_read_bytes"] = (c.shuffle_read_bytes, "bytes")
        out[f"{st}.shuffle_write_bytes"] = (c.shuffle_write_bytes, "bytes")
        out[f"{st}.spill_bytes"] = (c.spill_bytes, "bytes")
        out[f"{st}.core_util"] = (c.executor_run_s / (wall * n) if wall > 0 else 0.0, "ratio")
    reps = (res.stage_rows.get("features") or {}).get("rows_out") or 0
    hot = (res.stage_rows.get("blocking_keys") or {}).get("hot_keys_dropped")
    scored = (res.stage_rows.get("pair_scores") or {}).get("rows_out") or 0
    out["exact_groups.rep_ratio"] = (reps / n_input, "ratio")
    out["blocking_keys.hot_keys_dropped"] = (hot if hot is not None else tracer.hot_keys or 0, "count")
    out["candidate_pairs.accept_ratio"] = (
        (tracer.accepted_edges or 0) / scored if scored else 0.0,
        "ratio",
    )
    out["clusters.n_iter"] = (tracer.n_iter or 0, "count")
    out["catalog.write_s"] = (tracer.catalog_seconds("write_table"), "s")
    out["catalog.read_s"] = (tracer.catalog_seconds("read_table"), "s")
    out["catalog.bytes_written"] = (tracer.catalog_bytes, "bytes")
    out["catalog.writes"] = (tracer.catalog_calls("write_table"), "count")
    out["run.jobs"] = (total.jobs, "count")
    out["run.tasks"] = (total.tasks, "count")
    out["incremental.bootstrap_s"] = (phases.get("bootstrap_s", 0.0), "s")
    out["incremental.update_s"] = (phases.get("update_s", 0.0), "s")
    out["tracing_overhead_s"] = (res.wall_s - untraced_wall_s, "s")
    return out


# ---- main ---------------------------------------------------------------------


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the timed loop")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--work-dir",
        default=os.path.join(ROOT, ".perfbench"),
        help="input cache and Spark scratch space (default: <checkout>/.perfbench)",
    )
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sbb_ned_spark", "__init__.py")):
        log(f"no sbb_ned_spark package under {ROOT}: run from the root of a checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import SCALE, WORKLOADS, build_inputs, check_clusters

    kind = WORKLOADS.get(args.workload)
    if kind is None:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    work = os.path.abspath(args.work_dir)

    attempted = failed = 0
    walls: list[float] = []
    phases: dict[str, list[float]] = {}
    digests: set[str] = set()
    quality = None

    def checked(res, label: str) -> None:
        nonlocal attempted, failed, quality
        attempted += 1
        chk = check_clusters(res.clusters, inp)
        digests.add(chk.digest)
        quality = chk
        if len(digests) > 1:
            chk.problems.append("partition digest differs from an earlier resolution")
        log(
            f"{label}: {res.wall_s:.3f} s, {len(res.clusters)} rows, "
            f"f1={chk.f1:.6f} recall={chk.recall:.6f}"
            + ("" if not chk.problems else " FAILED: " + "; ".join(chk.problems))
        )
        if chk.problems:
            failed += 1

    with RssSampler() as rss:
        t0 = time.monotonic()
        spark = start_spark(work)
        session_s = time.monotonic() - t0
        wl = None
        try:
            t1 = time.monotonic()
            inp = build_inputs(spark, work, SCALE, args.seed, split=kind.incremental)
            inputs_s = time.monotonic() - t1
            wl = kind(spark, inp, work)
            setup_s = time.monotonic() - t0
            log(f"set-up {setup_s:.1f} s: session {session_s:.1f} s, inputs {inputs_s:.1f} s "
                f"({inp.n_files} files, batch {inp.n_batch})")

            t_loop = time.monotonic()
            while not walls or (time.monotonic() - t_loop) + statistics.median(walls) <= args.seconds:
                wl.prepare()
                settle(spark)
                try:
                    res = wl.resolve()
                except Exception:  # noqa: BLE001 - a failed resolution is counted, not fatal
                    attempted += 1
                    failed += 1
                    log("resolution raised:\n" + traceback.format_exc())
                    break
                walls.append(res.wall_s)
                for name, sec in (res.parts or {}).items():
                    phases.setdefault(name, []).append(sec)
                checked(res, f"resolution {len(walls)}"
                        + "".join(f", {k} {v:.3f}" for k, v in (res.parts or {}).items()))

            layer = None
            if args.trace and walls:
                ref_target = wl.trace_target(light=True)
                settle(spark)
                ref = ref_target()
                checked(ref, "reference resolution")
                tracer, res = traced_resolution(spark, wl, f"{args.workload}-s{args.seed}")
                checked(res, "traced resolution")
                tracer.write_spans(
                    os.path.join(work, "spans", f"{args.workload}_s{args.seed}_{tracer.run_id}.jsonl")
                )
                layer = per_layer(
                    tracer,
                    res,
                    wl.n_traced,
                    ref.wall_s,
                    {k: statistics.median(v) for k, v in phases.items()},
                )
        finally:
            if wl is not None:
                wl.close()
            stop_spark(spark)
    peak_mb = rss.peak / 2**20

    correct = failed == 0 and attempted > 0 and bool(walls)
    if args.trace:
        metrics = layer or {}
    else:
        med = statistics.median(walls) if walls else 0.0
        metrics = {
            "wall_s": (med, "s"),
            "files_per_s": (wl.n_input / med if walls else 0.0, "1/s"),
            "setup_s": (setup_s, "s"),
            "f1": (quality.f1 if quality else 0.0, "ratio"),
            "recall": (quality.recall if quality else 0.0, "ratio"),
            "peak_rss_mb": (peak_mb, "MiB"),
        }
    log(f"{args.workload} seed {args.seed}: {len(walls)} timed resolutions, "
        f"wall median {statistics.median(walls) if walls else float('nan'):.3f} s, "
        f"max {max(walls) if walls else float('nan'):.3f} s; "
        f"error_rate {failed / attempted if attempted else 1.0:.3f} ({failed}/{attempted}); "
        f"peak_rss_mb {peak_mb:.1f} MiB")
    for name, (value, unit) in metrics.items():
        print(f"  {name:40s} {value:>16.6f} {unit}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
