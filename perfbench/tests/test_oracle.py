"""The benchmark's own checks, without Spark: the recomputation oracle
reproduces the pinned full-pass counts, the document generator's
planted roles are consistent, and the timing statistics are right."""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen  # noqa: E402
import oracle  # noqa: E402
from common import tail  # noqa: E402


def test_transcripts_oracle_reproduces_pinned_counts():
    from cerberus_spark.sources.transcripts import synthesize

    got = oracle.transcripts_report(*synthesize(600_000, seed=42))
    assert (got["n_failed"], got["n_unique_violations"],
            got["n_orphan_violations"], got["n_ordering_violations"]) \
        == (41_750, 11_150, 3_048, 8_450)
    assert got["n_turns"] == 600_000


def test_nested_generator_plants_every_rule(tmp_path):
    import pyarrow.parquet as pq

    tbl = gen.write_nested(str(tmp_path), 5_000, seed=1)
    frame = tbl.to_pandas()
    passed = oracle.nested_passed(frame)
    metas = list(frame["meta"])
    assert any(m["lang"] == "xx" for m in metas)
    assert any(len(m["scores"]) == 9 for m in metas)
    assert any(max(m["scores"], default=0) > 1 for m in metas)
    assert any(k == "Bad-Key" for m in metas for k, _ in m["tags"])
    assert any(v == "" for m in metas for _, v in m["tags"])
    assert 0 < passed.sum() < len(passed)
    assert pq.read_table(str(tmp_path)).num_rows == 5_000


def test_document_stream_roles():
    ds = gen.DocumentStream(seed=3, batch=1_000)
    f0, r0 = ds.plan(0)
    f1, r1 = ds.plan(1)
    assert "cross_dup" not in r0 and r1.count("cross_dup") == 40
    kept0 = gen.DocumentStream.expected_kept(f0, r0)
    assert len(kept0) == r0.count("clean")
    # every planted cross-epoch duplicate copies a clean epoch-0 text
    clean0 = set(f0["text"][[r == "clean" for r in r0]])
    for text, role in zip(f1["text"], r1):
        if role == "cross_dup":
            assert text.rsplit(" ", 1)[0] in clean0
    assert oracle.docs_valid(f1).sum() == len(r1) - r1.count("invalid")


@pytest.mark.parametrize("n,value,pct", [
    (0, 0.0, 0.0), (5, 4.0, 100.0), (11, 0.0, 9.1), (20, 9.0, 50.0)])
def test_tail_has_ten_samples_beyond(n, value, pct):
    xs = [float(i) for i in range(n)]
    assert tail(xs) == (value, pct)
    if n >= 11:
        assert sum(1 for x in xs if x > value) == 10
