"""Attribution self-check of the traced run, on the ``tiny`` corpus.

Every job a traced resolution starts must land in one of the run's job
groups (AQE runs independent exchange subtrees and broadcasts as
concurrent jobs; if those lost their group the per-stage numbers would
silently undercount), and two traced resolutions of the same corpus must
report the same rows and shuffle bytes for every span.

Job and task counts are compared exactly on the full pipeline only. On the
incremental plan's ``clusters`` stage AQE materialises several query
stages concurrently, and how it groups them into jobs depends on which
finishes first: two of seven runs of this test saw 43 jobs / 55 tasks
against 42 / 54, with identical rows and shuffle bytes. A change that
claims a job-count saving therefore has to be shown on ``full_small``.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.run import ROOT, per_layer, start_spark, stop_spark, traced_resolution
from perfbench.tracing import STAGES, fold_counters
from perfbench.workloads import FullWorkload, IncrementalWorkload, build_inputs, check_clusters

SEED = 3


@pytest.fixture(scope="module")
def session():
    work = os.path.join(ROOT, ".perfbench", "tests")
    spark = start_spark(work)
    yield spark, work
    stop_spark(spark)


def _counts(tracer, res) -> dict:
    per, total, unattributed = fold_counters(tracer)
    assert unattributed == 0, f"{unattributed} jobs outside the run's groups"
    assert sum(c.jobs for c in per.values()) == total.jobs
    assert sum(c.tasks for c in per.values()) == total.tasks
    assert per["clusters"].jobs >= 1 and per["features"].jobs >= 1
    rows = {st: (res.stage_rows.get(st) or {}).get("rows_out") for st in STAGES}
    return {
        "rows": rows,
        "n_iter": tracer.n_iter,
        "accepted": tracer.accepted_edges,
        "hot": tracer.hot_keys,
        "cold": tracer.cold_rows,
        "catalog_writes": tracer.catalog_calls("write_table"),
        "shuffle_bytes": {
            name: (c.shuffle_read_bytes, c.shuffle_write_bytes) for name, c in per.items()
        },
        "jobs_tasks": {name: (c.jobs, c.tasks) for name, c in per.items()},
    }


@pytest.mark.parametrize("kind", [FullWorkload, IncrementalWorkload], ids=["full", "incremental"])
def test_traced_counts_are_attributed_and_repeat(session, kind):
    spark, work = session
    inp = build_inputs(spark, work, "tiny", SEED, split=kind.incremental)
    wl = kind(spark, inp, work)
    try:
        runs = []
        for i in range(2):
            tracer, res = traced_resolution(spark, wl, f"selfcheck-{i}")
            assert check_clusters(res.clusters, inp).ok
            runs.append(_counts(tracer, res))
        # the traced run reports exactly the per-layer metrics BENCHMARK.json declares
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = {m["name"] for m in json.load(f)["per_layer"]}
        assert set(per_layer(tracer, res, wl.n_traced, res.wall_s, {})) == declared
        if kind.incremental:
            assert runs[0]["catalog_writes"] >= 1
            for r in runs:
                del r["jobs_tasks"]
        assert runs[0] == runs[1]
    finally:
        wl.close()
