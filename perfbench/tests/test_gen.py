import numpy as np

import gen

SPEC = gen.Spec(seed=7, trails=300, events=30_000)


def test_same_seed_same_events_other_seed_differs():
    a, b = gen.generate(SPEC), gen.generate(SPEC)
    assert all(np.array_equal(a[k], b[k]) for k in a)
    c = gen.generate(gen.Spec(8, SPEC.trails, SPEC.events))
    assert not np.array_equal(a["timestamp"], c["timestamp"])


def test_shape_properties():
    c = gen.generate(SPEC)
    assert len(c["uuid"]) == SPEC.events
    _, lens = np.unique(c["uuid"], return_counts=True)
    assert len(lens) == SPEC.trails
    assert lens.max() > 5 * lens.mean()  # heavy-tailed trail lengths
    assert all(len(u) == 32 for u in c["uuid"][:10])
    types, n = np.unique(c["event_type"], return_counts=True)
    share = dict(zip(types, n / n.sum()))
    assert share["view"] > 5 * share["purchase"]


def test_planted_duplicates_copy_their_predecessor():
    c = gen.generate(SPEC)
    d = np.flatnonzero(c["dup"])
    assert 0 < len(d) <= SPEC.events * gen.DUP_FRAC
    for k in ("uuid", "timestamp", *gen.FIELDS):
        assert np.array_equal(c[k][d], c[k][d - 1])
    assert np.all(c["seq"][d] == c["seq"][d - 1] + 1)
    # apart from them, timestamps strictly increase inside a trail
    same = c["uuid"][1:] == c["uuid"][:-1]
    inc = c["timestamp"][1:] > c["timestamp"][:-1]
    assert np.all(inc | ~same | c["dup"][1:])


def test_no_duplicates_when_disabled():
    c = gen.generate(gen.Spec(7, 300, 30_000, dups=False))
    assert not c["dup"].any()


def test_ensure_caches_by_key(tmp_path):
    path, cols, gen_s = gen.ensure(SPEC, str(tmp_path), n_files=3)
    assert gen_s > 0
    path2, cols2, gen_s2 = gen.ensure(SPEC, str(tmp_path), n_files=3)
    assert (path2, gen_s2) == (path, 0.0)
    assert all(np.array_equal(np.asarray(cols[k]), np.asarray(cols2[k]))
               for k in cols)
    # files are time slices in name order
    import pyarrow.parquet as pq

    spans = [pq.read_table(f"{path}/part-{i:04d}.parquet")["timestamp"]
             for i in range(3)]
    for lo, hi in zip(spans, spans[1:]):
        assert max(lo.to_pylist()) < min(hi.to_pylist())
