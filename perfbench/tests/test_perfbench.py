"""Unit tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import stats  # noqa: E402
from spans import self_time  # noqa: E402
from workloads import same_rows  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


# -- percentile rule -----------------------------------------------------------

@pytest.mark.parametrize("n, want", [
    (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0),
    (1000, 99.0), (10000, 99.9)])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    got = stats.tail_percentile([float(i) for i in range(n)])
    assert (got[0] if got else None) == want


def test_tail_percentile_value_is_nearest_rank():
    samples = [float(i) for i in range(1, 101)]      # 1..100, shuffled
    samples.reverse()
    assert stats.tail_percentile(samples) == (90.0, 90.0)
    assert stats.percentile(samples, 50) == 50.0
    assert stats.percentile([7.0], 99.9) == 7.0


def test_quartiles_match_statistics_module():
    q = stats.quartiles([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
    assert (q["q1"], q["median"], q["q3"]) == (2.75, 5.5, 8.25)
    assert q["spread"] == pytest.approx(5.5 / 5.5)


# -- self time -------------------------------------------------------------------

def test_self_time_without_children_is_wall_time():
    assert self_time(1.0, 4.0, []) == pytest.approx(3.0)


def test_self_time_merges_overlapping_children():
    # children [1,3] and [2,5] cover [1,5]: 4 of the parent's 10 seconds
    assert self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0)]) == pytest.approx(6.0)


def test_self_time_counts_nested_and_disjoint_children_once():
    kids = [(1.0, 2.0), (1.2, 1.8), (4.0, 6.0), (5.0, 5.5)]
    assert self_time(0.0, 10.0, kids) == pytest.approx(10.0 - 1.0 - 2.0)


def test_self_time_clips_children_to_the_parent():
    # a child that started before and one that ended after the parent
    assert self_time(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0)]) == pytest.approx(2.0)
    assert self_time(2.0, 6.0, [(7.0, 8.0)]) == pytest.approx(4.0)


# -- failure counting ------------------------------------------------------------

def test_ledger_counts_each_failed_operation_once():
    ledger = stats.Ledger()
    with ledger.op("ok") as out:
        out.check(True, "fine")
    with ledger.op("two bad checks") as out:
        out.check(False, "first")
        out.check(False, "second")
    with ledger.op("raises"):
        raise RuntimeError("boom")
    with ledger.op("check then raise") as out:
        out.check(False, "bad")
        raise ValueError("worse")
    assert (ledger.attempted, ledger.failed) == (4, 3)
    assert ledger.error_rate == pytest.approx(0.75)
    assert any("boom" in p for p in ledger.problems)


def test_ledger_lets_interrupts_through():
    ledger = stats.Ledger()
    with pytest.raises(KeyboardInterrupt):
        with ledger.op("interrupted"):
            raise KeyboardInterrupt
    assert ledger.attempted == 1


def test_window_starts_an_operation_only_if_it_should_fit():
    t = [0.0]
    window = stats.Window(10.0, clock=lambda: t[0])
    assert window.more()                  # the first always starts
    t[0] = 4.0
    window.add(4.0)
    assert window.more()                  # 4 + 4 <= 10
    t[0] = 7.0
    window.add(3.0)
    assert not window.more()              # 7 + median(4, 3) > 10


# -- generator determinism -------------------------------------------------------

def test_documents_depend_only_on_seed_and_prefix():
    a = inputs.documents(5, "x-", 20)
    assert a == inputs.documents(5, "x-", 20)
    assert a != inputs.documents(6, "x-", 20)
    assert a[:10] == inputs.documents(5, "x-", 10)
    assert all(t.endswith(".") for _, t in a)


def _chunks(seed=0, n=40):
    docs = inputs.documents(seed, "d-", n)
    return sorted((f"c{i:03d}", name, inputs.COLLECTIONS[i % 5], text)
                  for i, (name, text) in enumerate(docs))


def _draw(seed, chunks, n):
    mix = inputs.ServeMix(seed)
    names = sorted({c[1] for c in chunks})
    return [mix.search(chunks) for _ in range(n)], \
        [mix.catalog(names) for _ in range(n)]


def test_serve_mix_is_deterministic_with_a_fixed_mix():
    chunks = _chunks()
    searches, catalog = _draw(3, chunks, 32)
    assert (searches, catalog) == _draw(3, chunks, 32)
    assert (searches, catalog) != _draw(4, chunks, 32)
    by_id = {c[0]: c for c in chunks}
    for b in range(4):
        deck = searches[b * 8:(b + 1) * 8]
        assert sum(r.kind == "search_score" for r in deck) == 4
        assert sum(r.fulltext for r in deck) == 4
        assert sum(r.collection != inputs.MASTER for r in deck) == 3
        assert sum(bool(r.doc_names) for r in deck) == 1
        for r in deck:
            if r.fulltext:
                assert by_id[r.chunk_id][3] == r.query
            if r.doc_names:
                assert any(by_id[c[0]][1] in r.doc_names for c in chunks)
    assert {r.kind for r in catalog} == {"list", "ui", "exists"}


def test_serve_block_writes_first_then_reads():
    assert inputs.BLOCK[:4] == ("upload", "delete", "search", "catalog")
    assert inputs.BLOCK.count("search") == 8
    assert inputs.BLOCK.count("catalog") == 2
    assert set(inputs.WARMUP) <= {"search", "catalog"}


def test_ingest_plan_is_deterministic_and_keeps_its_books():
    a, b = inputs.IngestPlan(seed=9), inputs.IngestPlan(seed=9)
    for _ in range(4):
        ra, rb = a.next_round(), b.next_round()
        assert ra == rb
    assert a.live == b.live and a.deleted == b.deleted

    plan = inputs.IngestPlan(seed=1)
    first = plan.next_round()
    assert set(first.expected.values()) == {"success"}   # store was empty
    assert len(first.docs) == 25
    second = plan.next_round()
    skipped = [n for n, s in second.expected.items() if s == "skipped"]
    assert len(skipped) == 5                       # 20% already stored
    assert second.collection != first.collection
    for rd in (first, second):
        assert rd.expected[rd.probe_name] == "success"
        assert rd.probe_text.count(".") == 1
        assert rd.delete_name not in plan.live
    assert set(plan.deleted) == {first.delete_name, second.delete_name}


def test_ingest_plan_meets_a_prefilled_store_at_the_gate():
    base = dict(inputs.documents(2, "base-", 30))
    plan = inputs.IngestPlan(seed=2, live=dict(base))
    rd = plan.next_round()
    skipped = {n for n, s in rd.expected.items() if s == "skipped"}
    assert len(skipped) == 5 and skipped <= set(base)


def test_pipeline_tables_depend_only_on_seed(tmp_path):
    import pyarrow.parquet as pq

    rows = inputs.pipeline_tables(1, str(tmp_path / "a"))
    inputs.pipeline_tables(1, str(tmp_path / "b"))
    inputs.pipeline_tables(2, str(tmp_path / "c"))
    assert rows["lineitem"] == 60000 and rows["embeddings"] == 500
    for name in rows:
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
    for name in ("lineitem", "events", "documents", "embeddings"):
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert not a.equals(pq.read_table(tmp_path / "c" / f"{name}.parquet"))


# -- output comparison -------------------------------------------------------------

def test_same_rows_ignores_order_but_not_types():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": [0.5, math.nan], "l": [[1, 2], [3]]})
    b = pd.DataFrame({"v": [math.nan, 0.5], "l": [[3], [1, 2]], "k": [2, 1]})
    assert same_rows(a, b) is None
    c = b.assign(k=[2.0, 1.0])
    assert same_rows(a, c) is not None            # int vs float differs
    assert same_rows(a, b.iloc[:1]) is not None


# -- metric names ----------------------------------------------------------------

def test_per_layer_reports_exactly_the_listed_metrics():
    import json
    from types import SimpleNamespace

    from layers import per_layer
    from spans import Tracer

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = [m["name"] for m in json.load(fh)["per_layer"]]
    measured = SimpleNamespace(main_op_ms=1.0, main_op_cpu_ms=1.0,
                               cpu_ms_per_op=1.0)
    got = per_layer(Tracer(), 0, measured, {})
    assert sorted(got) == sorted(listed)
