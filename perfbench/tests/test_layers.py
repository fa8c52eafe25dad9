import argparse
import json

import pytest

from layers import overhead_frac
from run import untraced_record


def test_overhead_is_untraced_over_traced_throughput(tmp_path):
    rec = tmp_path / "untraced.json"
    rec.write_text(json.dumps({"events_per_cpu_s": 100.0, "setup_s": 6.0}))
    assert overhead_frac(str(rec), 80.0) == pytest.approx(0.25)
    assert overhead_frac(str(rec), 100.0) == 0.0


def test_overhead_without_an_untraced_record_fails(tmp_path):
    with pytest.raises(FileNotFoundError):
        overhead_frac(str(tmp_path / "missing.json"), 80.0)


def test_untraced_record_is_keyed_by_workload_seed_and_length():
    args = argparse.Namespace(workload="fsm_trails", seed=3, seconds=10.0,
                              trace=0)
    path = untraced_record(args)
    assert path.endswith("untraced_fsm_trails_s3_t10.json")
    args.seed = 4
    assert untraced_record(args) != path
