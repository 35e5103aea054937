"""Unit tests for the benchmark's own code (no Spark needed).

    python -m pytest crmbench/tests -q
"""

from __future__ import annotations

import os
import sys
import urllib.request

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.join(os.path.dirname(BENCH), "tools"))

from fixture import MAX_EVENTS, PAGE_LIMIT, ACFixture, FixtureServer  # noqa: E402
from stats import canonical_hash, self_times, tail  # noqa: E402
from tables import make_tables  # noqa: E402

SIZES = [30, 10, 10]


def test_fixture_is_a_function_of_the_seed():
    a, b, c = ACFixture(5, SIZES), ACFixture(5, SIZES), ACFixture(6, SIZES)
    assert a.digest() == b.digest()
    assert a.digest() != c.digest()
    a.publish(2)
    b.publish(2)
    assert a.respond("/api/3/contacts?limit=100&offset=0") == b.respond("/api/3/contacts?limit=100&offset=0")


def test_fixture_does_not_depend_on_hash_seed():
    import subprocess

    code = f"import sys; sys.path.insert(0, {BENCH!r}); from fixture import ACFixture; print(ACFixture(5, {SIZES!r}).digest())"
    digests = {
        subprocess.run([sys.executable, "-c", code], env={**os.environ, "PYTHONHASHSEED": h},
                       capture_output=True, text=True, check=True, timeout=60).stdout
        for h in ("1", "2")
    }
    assert len(digests) == 1


def test_fixture_shape():
    fx = ACFixture(5, SIZES)
    acts = fx.children["activities"]
    whale = max(acts.values(), key=len)
    assert len(whale) > PAGE_LIMIT  # paging is exercised
    assert len(whale) > MAX_EVENTS  # the per-contact cap is exercised by one fetched endpoint
    refs = [r["user"] for rows in acts.values() for r in rows]
    assert "" in refs and "0" in refs  # sentinel ids
    rows = [tuple(sorted(r.items())) for rows in acts.values() for r in rows]
    assert len(rows) > len(set(rows))  # verbatim repeats
    assert fx.children["deals"] and fx.children["dealNotes"]  # the deal fan-out has work
    fx.publish(0)
    keys0 = fx.expected_keys()
    fx.publish(2)
    assert fx.expected_keys()["contacts"] == keys0["contacts"] + 20
    ids = [c["id"] for c in fx.collections["contacts"]]
    assert ids == sorted(ids) and fx.max_contact_id() == ids[-1]


def test_fixture_server_pages_and_counts():
    fx = ACFixture(5, SIZES)
    srv = FixtureServer(fx)
    url = srv.start()
    try:
        body = urllib.request.urlopen(f"{url}/api/3/contacts?id_greater=0&limit=7&offset=0").read()
        missing = urllib.request.Request(f"{url}/api/3/nothing")
        with pytest.raises(urllib.error.HTTPError):
            urllib.request.urlopen(missing)
    finally:
        srv.stop()
    c = srv.counters()
    assert c["requests"] == 2 and c["bytes_served"] == len(body) and c["busy_s"] > 0


def test_tables_are_a_function_of_the_seed():
    a, b = make_tables(3), make_tables(3)
    assert all(a[t].equals(b[t]) for t in a)
    assert not make_tables(4)["orders"].equals(a["orders"])


def test_tail_rule_and_sample_count():
    xs = [float(i) for i in range(1, 101)]  # 100 samples: 10 beyond
    t = tail(xs)
    assert (t.value, t.beyond, t.n) == (90.0, 10, 100)
    assert t.percentile == pytest.approx(100 * 89 / 99)
    t = tail([float(i) for i in range(1, 301)])  # never more than 10 beyond
    assert (t.value, t.beyond) == (290.0, 10)
    t = tail([3.0, 1.0, 2.0] + [10.0] * 7 + [20.0])  # 11 samples: one beyond
    assert (t.value, t.beyond, t.n) == (10.0, 1, 11)
    assert t.percentile == pytest.approx(90.0)
    t = tail([5.0, 4.0, 6.0, 1.0])  # under 10 samples: the maximum
    assert (t.value, t.percentile, t.beyond) == (6.0, 100.0, 0)


def test_self_time_subtracts_merged_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # runs past the parent
        {"id": 4, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 1)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0) and st[4] == pytest.approx(1.0)


def test_canonical_hash_agrees_with_check_correctness():
    from check_correctness import compare

    spark_like = pd.DataFrame({"k": [2, 1], "v": [0.5, 1.25], "s": ["b", None]})
    oracle_like = pd.DataFrame({"s": [None, "b"], "v": [1.25, 0.5], "k": [1.0, 2.0]})
    assert compare("x", spark_like, oracle_like) == []
    assert canonical_hash(spark_like) == canonical_hash(oracle_like)
    off = oracle_like.assign(v=[1.25, 0.5000000001])
    assert compare("x", spark_like, off) != []
    assert canonical_hash(spark_like) != canonical_hash(off)


def test_canonical_cells():
    import numpy as np

    from stats import _cell

    assert _cell(np.bool_(True)) == "True" and _cell(True) == "True"
    assert _cell(np.int64(3)) == _cell(3.0) == "3.0"
    assert _cell(-0.0) == _cell(0.0)
    assert _cell(float("nan")) == "nan" and _cell(None) == "None"
    assert _cell(2**60) == str(2**60)
    assert _cell(np.array([1.5, 2.0], dtype=np.float32)) == "[1.5,2.0]"
