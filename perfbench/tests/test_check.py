import pytest

from check import compare, normalize, program_shape, sql_rows_to_norm
from queries import (FOREACH_QUERIES, HLL_TYPES, MSET_ITEMS, zipf_stream)


def test_normalize_drops_empty_rows_and_keys_by_binding():
    out = [
        {"$n": 0, "%t": ""},
        {"$n": 4, "%t": "click"},
        {"$n": 7, "%t": "view"},
    ]
    assert normalize(out) == {
        (("%t", "click"),): {"$n": 4},
        (("%t", "view"),): {"$n": 7},
    }


def test_normalize_single_result_and_sets():
    assert normalize({"$c": 3}) == {(): {"$c": 3}}
    assert normalize({"$c": 0}) == {}
    assert normalize({"#s": ["b", "a"]}) == {(): {"#s": ["a", "b"]}}
    assert normalize({"^u": "0e00"}) == {}


def test_program_shape_reads_binds_and_yield():
    assert program_shape(HLL_TYPES) == (["%t"], "^uniq")
    assert program_shape(MSET_ITEMS) == ([], "&clicked")
    assert program_shape(FOREACH_QUERIES[0].text) == (["%t"], "$conv")
    with pytest.raises(ValueError):
        program_shape("start ->\n    receive\n        * -> repeat\n")


def test_sql_rows_match_engine_output():
    engine = [{"$n": 0, "%t": ""}, {"$n": 2, "%t": "a"},
              {"$n": 5, "%t": "b"}]
    ref = sql_rows_to_norm([("a", 2), ("b", 5), ("c", 0)], ["%t"], "$n")
    assert compare(normalize(engine), ref) is None
    assert sql_rows_to_norm([(9,)], [], "$c") == {(): {"$c": 9}}
    assert sql_rows_to_norm([(0,)], [], "$c") == {}


def test_sql_multiset_and_set_rows():
    ref = sql_rows_to_norm([("i1", 3), ("i2", 1)], [], "&m")
    assert compare(normalize({"&m": {"i2": 1, "i1": 3}}), ref) is None
    ref = sql_rows_to_norm([("x",), ("a",)], [], "#s")
    assert compare(normalize({"#s": ["x", "a"]}), ref) is None


def test_compare_reports_the_first_difference():
    got = normalize([{"$n": 2, "%t": "a"}, {"$n": 6, "%t": "b"}])
    want = sql_rows_to_norm([("a", 2), ("b", 5)], ["%t"], "$n")
    msg = compare(got, want)
    assert msg is not None and "1 of 2 bindings differ" in msg
    assert "got {'$n': 6} want {'$n': 5}" in msg


def test_compare_catches_missing_and_extra_bindings():
    want = sql_rows_to_norm([("a", 2)], ["%t"], "$n")
    assert compare({}, want) is not None
    got = normalize([{"$n": 2, "%t": "a"}, {"$n": 1, "%t": "z"}])
    assert compare(got, want) is not None


def _sketch_hex(n: int) -> str:
    from trck_spark.fsm.hll import Hll

    h = Hll()
    for i in range(n):
        h.add(i.to_bytes(16, "little"))
    return h.to_hex()


def test_sketch_envelope_accepts_estimate_and_rejects_drift():
    hx = _sketch_hex(3000)
    got = normalize([{"^u": hx, "%t": "a"}])
    assert compare(got, sql_rows_to_norm([("a", 3000)], ["%t"], "^u"),
                   sketch=True) is None
    # a sketch of 3000 is not a count of 3400
    assert compare(got, sql_rows_to_norm([("a", 3400)], ["%t"], "^u"),
                   sketch=True) is not None
    # an empty sketch where the exact count is positive
    assert compare({}, sql_rows_to_norm([("a", 50)], ["%t"], "^u"),
                   sketch=True) is not None


def test_zipf_stream_mix_is_the_same_for_every_seed():
    import numpy as np

    a = zipf_stream(12, 20, np.random.default_rng(1))
    b = zipf_stream(12, 20, np.random.default_rng(2))
    assert len(a) == 20
    assert sorted(a) == sorted(b)
    assert a != b
    # every pool query runs; rank 0 is the most frequent
    assert set(a) == set(range(12))
    assert max(set(a), key=a.count) == 0
    with pytest.raises(ValueError):
        zipf_stream(12, 11, np.random.default_rng(1))
