"""Self-test for the benchmark: every workload at the tiny size, a few
ops each, in one Spark session.  Asserts that every metric BENCHMARK.json
names comes out with its unit, that the workload-specific report names
are printed, and that the oracle checks ran and passed.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import run as R  # noqa: E402

#: per-layer metrics each workload must actually move (others may read 0)
OWNED = {
    "cascade_ingest": ("pipeline.typed.add_batch_ms", "pipeline.daily.jobs",
                       "storage.granular.insert_into_ms", "attendance.merge_on_read_ms",
                       "storage.files_per_table"),
    "curation_drain": ("stateful.domain_cap.add_batch_ms", "stateful.cms.jobs_per_block",
                       "txlog.stage_ms", "txlog.commit_calls", "txlog.log_len"),
    "query_mix": ("queries.exec_ms", "queries.jobs", "txlog.read_ms", "query.cold_ms"),
}


@pytest.fixture(scope="module")
def session():
    dirs = R.pin_env(ROOT)
    import time

    t = time.perf_counter()
    spark = R.start_session(dirs, R.cores())
    yield spark, time.perf_counter() - t, dirs
    R.stop_session(spark)


@pytest.mark.parametrize("workload", sorted(OWNED))
def test_workload_prints_every_metric_and_checks_oracle(session, workload, tmp_path):
    from perfbench import fixtures as FX

    spark, session_s, dirs = session
    spec = R.benchmark_spec()
    rec = R.run_workload(spark, session_s, workload, 7, 0.5, True, FX.TINY,
                         str(tmp_path / "data"), str(tmp_path))
    assert rec["failed"] == 0, rec["checks"]
    assert rec["n_steady"] >= 1
    if workload != "query_mix":
        assert rec["checks"] and all(ok for _, ok in rec["checks"])
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        line = R.result_line(rec, spec, trace)
        assert set(line["metrics"]) == {m["name"] for m in spec[key]}
        for m in spec[key]:
            got = line["metrics"][m["name"]]
            assert got["unit"] == m["unit"] and math.isfinite(got["value"])
        if not trace:
            assert all(v["value"] > 0 for v in line["metrics"].values())
    for name in OWNED[workload]:
        assert rec["layer"][name] > 0, name
    text = "\n".join(R.report(rec))
    op, thr = R.REPORT_NAMES[workload]
    for name in (f"{op}_p50_ms", f"{op}_tail_ms", f"{op}_p50_steal_free_ms", thr, "failed_ops_ratio",
                 "driver_peak_rss_mb", "setup_s", "self time per op"):
        assert name in text
