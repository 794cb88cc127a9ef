"""Tests for the benchmark's own code:

    python3 -m pytest perfbench -q

The smoke test runs the whole program (Spark session, passes, tracing,
output checks) on sf0.001-sized inputs, about a minute on 4 cores.
"""

from __future__ import annotations

import argparse
import json
import os

import duckdb
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

import check
import gen
import run


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert run.tail_percentile(xs) == (90, 90.0)
    for n in (11, 27, 64, 250):
        xs = [float(i) for i in range(n)]
        p, v = run.tail_percentile(xs)
        assert sum(x > v for x in xs) >= run.MIN_BEYOND
        assert 0 <= p < 100
    assert run.tail_percentile([1.0] * 10) is None
    assert run.tail_percentile([1.0, 2.0] * 5) is None


def test_tail_percentile_steps_below_ties():
    xs = [1.0] * 5 + [2.0] * 20
    p, v = run.tail_percentile(xs)
    assert v == 1.0 and sum(x > v for x in xs) == 20
    assert run.tail_percentile([3.0] * 30) is None


@pytest.mark.parametrize("kind,scale", [("election", 0.001),
                                        ("documents", 200)])
def test_generator_is_deterministic_per_seed(tmp_path, kind, scale):
    a = gen.ensure(kind, 5, scale, str(tmp_path / "a"))
    b = gen.ensure(kind, 5, scale, str(tmp_path / "b"))
    c = gen.ensure(kind, 6, scale, str(tmp_path / "c"))
    assert gen.fingerprint(a) == gen.fingerprint(b)
    assert gen.fingerprint(a) != gen.fingerprint(c)
    # cached: a second call reuses the directory as it is
    mtime = os.path.getmtime(os.path.join(a, "_DONE"))
    assert gen.ensure(kind, 5, scale, str(tmp_path / "a")) == a
    assert os.path.getmtime(os.path.join(a, "_DONE")) == mtime


def test_corpus_has_exact_and_near_duplicates():
    texts = gen.corpus_texts(3, 400)
    assert len(set(texts)) < len(texts)
    near = [t for t in texts if t.endswith(" dup")]
    assert len(near) == 400 // gen.DUP_EVERY
    assert all(t[:-4] in texts for t in near)


def test_oracle_check_catches_a_changed_value(tmp_path):
    con = duckdb.connect()
    con.sql("CREATE TABLE t AS SELECT * FROM (VALUES (1, 'a'), (2, ''), "
            "(3, NULL), (4, 'q\"x')) v(k, s)")
    schema = StructType([StructField("k", LongType()),
                         StructField("s", StringType())])
    oracle = "SELECT CAST(k AS BIGINT) AS k, s FROM t"
    good = tmp_path / "good.csv"
    # Spark's CSV conventions: "" is the empty string, nothing is null
    good.write_text('k,s\n4,"q\\"x"\n1,a\n3,\n2,""\n')
    assert check.oracle_mismatch(con, oracle, schema, str(good)) is None
    bad = tmp_path / "bad.csv"
    bad.write_text('k,s\n4,"q\\"x"\n1,b\n3,\n2,""\n')
    assert "values differ" in check.oracle_mismatch(con, oracle, schema,
                                                    str(bad))
    short = tmp_path / "short.csv"
    short.write_text('k,s\n1,a\n')
    assert "rowcount" in check.oracle_mismatch(con, oracle, schema,
                                               str(short))


def test_smoke_run_sf0001(tmp_path):
    data = gen.ensure("election", 9, 0.001, str(tmp_path / "data"))
    run_dir = tmp_path / "run"
    run_dir.mkdir()
    a = argparse.Namespace(workload="election_night", seed=9, seconds=0,
                           trace=1)
    rec = run.run_program(a, data, str(run_dir), timeout=600)
    assert rec["errors"] == []
    assert all(c["error"] is None for c in rec["checks"].values())
    assert len(rec["checks"]) == len(run.WORKLOADS["election_night"].ops)
    assert run.failures(rec) == 0
    e2e = run.end_to_end(rec)
    assert set(e2e) == {m["name"] for m in _bench()["end_to_end"]}
    assert e2e["cold_s"][0] > e2e["pass_s"][0] > 0
    layers = run.per_layer(rec)
    assert set(layers) == {m["name"] for m in _bench()["per_layer"]}
    assert layers["spark.jobs"][0] >= len(rec["checks"])
    assert layers["cache.residents_after"][0] == 0
    assert layers["scan.input_rows"][0] > 0


def _bench() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)
