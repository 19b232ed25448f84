"""The benchmark's own arithmetic: self time, the tail-percentile rule,
process-tree RSS and the seeded draws from the reference tables.  No
Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import subprocess
import sys
import threading
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import measure  # noqa: E402
import refdata  # noqa: E402
from measure import Span  # noqa: E402


def _span(sid, name, start, end, parent=None):
    return Span(sid, name, start, end, parent, "t")


def test_self_time_nested_children():
    spans = [
        _span(0, "bench.pass", 0.0, 10.0),
        _span(1, "queries.build", 1.0, 4.0, parent=0),
        _span(2, "exec.run", 5.0, 9.0, parent=0),
        _span(3, "catalog.load", 2.0, 3.0, parent=1),  # grandchild
    ]
    got = measure.self_times(spans)
    assert got["bench.pass"] == pytest.approx(10.0 - 3.0 - 4.0)
    assert got["queries.build"] == pytest.approx(3.0 - 1.0)
    assert got["exec.run"] == pytest.approx(4.0)
    assert got["catalog.load"] == pytest.approx(1.0)
    # every instant is attributed exactly once
    assert sum(got.values()) == pytest.approx(10.0)


def test_self_time_overlapping_children_counted_once():
    spans = [
        _span(0, "stream.live", 0.0, 10.0),
        _span(1, "stream.sink", 2.0, 6.0, parent=0),
        _span(2, "eventlog.append", 4.0, 8.0, parent=0),  # overlaps the sink
        _span(3, "eventlog.append", 9.0, 12.0, parent=0),  # runs past the parent
    ]
    got = measure.self_times(spans)
    # children cover [2, 8] and [9, 10] of the parent
    assert got["stream.live"] == pytest.approx(10.0 - 6.0 - 1.0)


def test_covered_length_merges_and_clips():
    assert measure.covered_length([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5.0)
    assert measure.covered_length([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3.0)
    assert measure.covered_length([], 0, 10) == 0.0


def test_tracer_records_parent_and_trace_id():
    tr = measure.Tracer(enabled=True)
    with tr.span("bench.pass"):
        with tr.span("queries.build"):
            pass
    with tr.span("eventlog.append", trace_id="generator"):
        pass
    by_name = {s.name: s for s in tr.spans}
    assert by_name["queries.build"].parent == by_name["bench.pass"].span_id
    assert by_name["queries.build"].trace_id == by_name["bench.pass"].trace_id
    assert by_name["eventlog.append"].trace_id == "generator"
    assert by_name["eventlog.append"].parent is None
    off = measure.Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


@pytest.mark.parametrize(
    "n, pct",
    [(1000, 99.0), (999, 95.0), (10_000, 99.9), (200, 95.0), (100, 90.0), (40, 75.0), (20, 50.0)],
)
def test_tail_percentile_has_ten_samples_beyond(n, pct):
    values = list(range(1, n + 1))
    got_pct, value, count = measure.tail_percentile(values)
    assert (got_pct, count) == (pct, n)
    beyond = sum(1 for v in values if v > value)
    assert beyond >= 10
    # the next step up the ladder would leave fewer than ten beyond
    higher = [p for p in measure.TAIL_LADDER if p > pct]
    if higher:
        step = min(higher)
        assert n - measure.nearest_rank(values, step) < 10


def test_tail_percentile_too_few_samples_reports_median():
    assert measure.tail_percentile([3.0, 1.0, 2.0, 4.0]) == (50.0, 2.5, 4)
    assert measure.tail_percentile([]) == (50.0, 0.0, 0)


def test_descendants_include_children_of_other_threads():
    """A child forked from a thread other than the main one is listed
    under that thread only, as the JVM's Python workers are."""
    forked, release = [], threading.Event()

    def fork():
        forked.append(subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"]))
        release.wait(10)

    t = threading.Thread(target=fork)
    t.start()
    try:
        while not forked:
            threading.Event().wait(0.01)
        import os

        assert forked[0].pid in measure.descendants(os.getpid())
        assert measure.tree_rss_mb(os.getpid()) > 0
    finally:
        release.set()
        t.join()
        forked[0].kill()
        forked[0].wait()


@pytest.fixture(scope="module")
def tables():
    return refdata.load()


def _day_file_bytes(tmp_path, seed, tables):
    import pyarrow.parquet as pq

    import medallion

    out = {}
    for name, days in medallion.day_sources(seed, tables).items():
        for day, t in enumerate(days):
            f = tmp_path / f"{seed}-{name}-{day}-{len(out)}.parquet"
            pq.write_table(t, f)
            out[(name, day)] = f.read_bytes()
    return out


def test_same_seed_gives_byte_identical_day_files(tmp_path, tables):
    import medallion

    a = _day_file_bytes(tmp_path, 7, tables)
    b = _day_file_bytes(tmp_path, 7, tables)
    assert len(a) == 3 * (medallion.INCR_DAYS + 1) and a == b


def test_medallion_change_slices_follow_the_seed(tables):
    import medallion

    a, c = medallion.day_sources(7, tables), medallion.day_sources(8, tables)
    changed = lambda src: set(src["customer"][1].column("c_custkey").to_pylist())  # noqa: E731
    assert changed(a) != changed(c)
    # day 0 is the full load; the changed slice re-exports existing keys
    assert changed(a) <= set(a["customer"][0].column("c_custkey").to_pylist())

    def corrected(src):  # day-1 lines that re-export a day-0 key
        key = lambda t: set(zip(t.column("l_orderkey").to_pylist(),  # noqa: E731
                                t.column("l_linenumber").to_pylist()))
        return key(src["lineitem"][1]) & key(src["lineitem"][0])

    n_fixed = int(a["lineitem"][0].num_rows * medallion.CORRECT_FRAC)
    assert len(corrected(a)) == len(corrected(c)) == n_fixed
    assert corrected(a) != corrected(c)


def test_renumbered_lines_make_the_merge_key_a_key(tables):
    import medallion

    lines = medallion.renumber_lines(tables["lineitem"])
    keys = list(zip(lines.column("l_orderkey").to_pylist(), lines.column("l_linenumber").to_pylist()))
    assert len(set(keys)) == len(keys) == tables["lineitem"].num_rows
    assert lines.drop(["l_linenumber"]).equals(tables["lineitem"].drop(["l_linenumber"]))


def test_stream_items_follow_the_seed(tables):
    import stream

    o, li = tables["orders"], tables["lineitem"]
    a, used_a = stream.stream_items(7, o, li, 400, set())
    b, used_b = stream.stream_items(7, o, li, 400, set())
    c, used_c = stream.stream_items(8, o, li, 400, set())
    assert a == b and used_a == used_b
    assert used_a != used_c
    # every order is completable: all its distinct parts are among its items
    for ok in used_a:
        items = [r for r in a if r["order_id"] == f"o{ok}"]
        assert items and len({r["product_id"] for r in items}) == items[0]["num_products"]


def test_stream_phases_use_disjoint_orders(tables):
    import stream

    d = stream.draw(7, tables)
    phases = [set(d[f"{ph}_orders"]) for ph in ("primer", "backlog", "live")]
    assert all(phases) and sum(map(len, phases)) == len(set().union(*phases))
    rounds = [set(d[f"backlog{r}_orders"]) for r in range(stream.DRAIN_ROUNDS)]
    assert all(rounds) and set().union(*rounds) == phases[1]
    assert sum(map(len, rounds)) == len(phases[1])
    assert all(len(d[f"backlog{r}"]) <= stream.BACKLOG_ITEMS for r in range(stream.DRAIN_ROUNDS))
