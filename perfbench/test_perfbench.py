"""Self-tests of the benchmark's own machinery (no Spark needed).

Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import io

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.workloads import wrong_docs
from perfbench.trace import Span, Tracer, count_exchanges, self_times, \
    total_by_name

WEB_N = 40


def _parquet_bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


# ------------------------------------------------------------ inputs

def test_same_seed_gives_byte_identical_corpus():
    a, mix_a = gen.web_pages(3, WEB_N)
    b, mix_b = gen.web_pages(3, WEB_N)
    assert mix_a == mix_b
    assert _parquet_bytes(gen.span_table(a)) == \
        _parquet_bytes(gen.span_table(b))
    assert _parquet_bytes(gen.documents_table(300, 7)) == \
        _parquet_bytes(gen.documents_table(300, 7))
    assert _parquet_bytes(gen.embeddings_table(300, 7)) == \
        _parquet_bytes(gen.embeddings_table(300, 7))
    assert gen.stream_page() == gen.stream_page()


def test_new_seed_new_doc_ids_same_size_histogram_web():
    a, _ = gen.web_pages(1, WEB_N)
    b, _ = gen.web_pages(2, WEB_N)
    assert not {p["doc_id"] for p in a} & {p["doc_id"] for p in b}
    assert [p["html"] for p in a] != [p["html"] for p in b]
    # same target sizes; a page overshoots its target by under one block
    size_a = sorted(len(p["html"].encode()) for p in a)
    size_b = sorted(len(p["html"].encode()) for p in b)
    target = sorted(gen.page_sizes(WEB_N))
    for x, y, t in zip(size_a, size_b, target):
        assert t <= x < t + 4096 and t <= y < t + 4096


def test_span_table_reassembles_to_the_page():
    pages, _ = gen.web_pages(5, 8)
    rows = gen.span_table(pages).to_pylist()
    for page, row in zip(pages, rows):
        html = "".join(s["text"] for s in sorted(row["spans"],
                                                  key=lambda s: s["offset"])
                       if s["kind"] == "html")
        assert html == page["html"]
        if len(page["html"]) > 128 << 10:
            assert sum(s["kind"] == "html" for s in row["spans"]) > 1
        assert [s["media_ref"] for s in row["spans"]
                if s["kind"] == "media"] == [page["media_ref"]]


def test_markup_mix_covers_every_class():
    _, mix = gen.web_pages(7, 60)
    for cls in ("tables", "entities", "links", "misnesting", "tag_soup"):
        assert mix[cls] > 0, cls


def test_output_check_counts_missing_wrong_and_duplicated_docs():
    want = {"1": "a", "2": "b", "3": "c"}
    assert wrong_docs(want, [("3", "c"), ("1", "a"), ("2", "b")]) == 0
    assert wrong_docs(want, [("1", "a"), ("2", "b")]) == 1
    assert wrong_docs(want, [("1", "a"), ("2", "x"), ("3", "c")]) == 1
    assert wrong_docs(want, [("1", "a"), ("2", "b"), ("3", "c"),
                             ("2", "b")]) == 1
    assert wrong_docs(want, [("1", "a"), ("2", "b"), ("3", "c"),
                             ("9", "z")]) == 1


# ------------------------------------------------------------ tracing

def test_self_times_on_hand_built_tree():
    spans = [
        Span(0, "root", 0, 100, None, "r"),
        Span(1, "a", 10, 40, 0, "r"),
        Span(2, "b", 30, 60, 0, "r"),     # overlaps a
        Span(3, "c", 90, 120, 0, "r"),    # runs past its parent
        Span(4, "a.x", 15, 20, 1, "r"),
        Span(5, "a.y", 20, 30, 1, "r"),
    ]
    st = self_times(spans)
    assert st[0] == 100 - (60 - 10) - (100 - 90)
    assert st[1] == 30 - 5 - 10
    assert st[2] == 30
    assert st[3] == 30
    assert st[4] == 5 and st[5] == 10
    assert total_by_name(spans, self_time=True)["root"] == 40
    assert total_by_name(spans)["a"] == 30


def test_tracer_records_parents_and_disabled_records_nothing():
    tr = Tracer("run-1")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        tr.add("leaf", 1, 2)
    tr.add("top", 3, 4)
    by = {s.name: s for s in tr.spans}
    assert by["inner"].parent == by["outer"].id
    assert by["leaf"].parent == by["outer"].id
    assert by["outer"].parent is None and by["top"].parent is None
    assert len({s.id for s in tr.spans}) == 4
    assert {s.run_id for s in tr.spans} == {"run-1"}
    assert by["outer"].start_ns <= by["inner"].start_ns <= \
        by["inner"].end_ns <= by["outer"].end_ns
    off = Tracer("run-2", enabled=False)
    with off.span("x"):
        off.add("y", 0, 1)
    assert off.spans == []


# ------------------------------------------------------------ plans

PLAN_FOUR = """== Physical Plan ==
* Project (21)
+- * Filter (20)
   +- Window (19)
      +- * Sort (17)
         +- Exchange (16)
            +- Project (13)
               +- * BroadcastNestedLoopJoin Cross BuildRight (12)
                  :- Project (5)
                  :  +- Exchange (4)
                  :     +- * ColumnarToRow (2)
                  :        +- Scan parquet  (1)
                  +- BroadcastExchange (11)
                     +- Project (10)
                        +- Exchange (9)
                           +- * ColumnarToRow (7)
                              +- Scan parquet  (6)


(4) Exchange
Input [2]: [vec_id#397L, embedding#398]
Arguments: RoundRobinPartitioning(32), REPARTITION_BY_NUM, [plan_id=1302]

(11) BroadcastExchange
Input [3]: [q_id#408L]
"""

PLAN_REUSED = """*(3) HashAggregate(keys=[k#1], functions=[count(1)])
+- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=40]
   +- *(2) SortMergeJoin [k#1], [k#2], Inner
      :- *(1) Sort [k#1 ASC NULLS FIRST], false, 0
      :  +- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS
      :     +- *(1) ColumnarToRow
      +- ReusedExchange [k#2], Exchange hashpartitioning(k#1, 8)
"""

PLAN_ADAPTIVE = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(2) HashAggregate(keys=[k#1], functions=[count(1)])
   +- AQEShuffleRead coalesced
      +- ShuffleQueryStage 0
         +- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS
            +- *(1) Scan ExistingRDD[k#1]
+- == Initial Plan ==
   HashAggregate(keys=[k#1], functions=[count(1)])
   +- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS
      +- Exchange RoundRobinPartitioning(4)
         +- Scan ExistingRDD[k#1]
"""


def test_exchange_counter_on_known_plans():
    assert count_exchanges(PLAN_FOUR) == 4
    assert count_exchanges(PLAN_REUSED) == 2
    assert count_exchanges(PLAN_ADAPTIVE) == 1
    assert count_exchanges("*(1) Project [a#1]\n+- *(1) Scan x\n") == 0


# ------------------------------------------------------------ teardown

def test_reaper_waits_for_orphaned_grandchildren():
    """A grandchild whose parent exited first is adopted and waited for;
    one that outlives the grace period is signalled."""
    import subprocess
    import sys
    import textwrap
    code = textwrap.dedent("""
        import os, subprocess, sys, time
        sys.path.insert(0, "perfbench")
        from run import become_subreaper, _children, reap_descendants
        become_subreaper()
        subprocess.run(["sh", "-c", "sleep 0.5 & sleep 60 &"])
        assert len(_children()) == 2, _children()
        t0 = time.monotonic()
        print(reap_descendants(grace_s=2.0), round(time.monotonic() - t0),
              _children())
    """)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=30, check=True).stdout.split()
    assert out == ["1", "2", "[]"]
