"""Tests for the benchmark's helpers (no Spark needed).

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import hashlib
import os
import sys
from datetime import date

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402
from tracing import Span, self_times, union_length  # noqa: E402

# --- percentile rule ----------------------------------------------------------------


def test_p90_needs_ten_samples_beyond_it():
    samples = [float(i) for i in range(100)]
    p90 = stats.tail_percentile(samples, 0.9)
    assert p90 == pytest.approx(89.1)
    assert stats.beyond(samples, p90) == 10
    assert stats.tail_percentile(samples[:50], 0.9) is None
    assert stats.tail_percentile([], 0.5) is None


def test_median_of_twenty_has_ten_beyond():
    samples = [float(i) for i in range(20)]
    assert stats.tail_percentile(samples, 0.5) == pytest.approx(9.5)
    assert stats.tail_percentile(samples[:19], 0.5) is None


def test_tail_rule_counts_strictly_greater_samples():
    # ties at the percentile are not "beyond" it
    samples = [1.0] * 95 + [2.0] * 5
    assert stats.tail_percentile(samples, 0.9) is None


# --- self time ----------------------------------------------------------------------


def _span(i, parent, start, end, name="x"):
    return Span(id=i, name=name, parent=parent, request="r", start=start, end=end)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0


def test_self_time_with_overlapping_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),  # overlaps child 3
        _span(3, 1, 3.0, 6.0),
        _span(4, 1, 8.0, 12.0),  # runs past its parent's end
        _span(5, 2, 2.0, 3.0),  # grandchild: not subtracted from span 1
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(1.0)


# --- generator determinism ------------------------------------------------------------


def _digest_tree(root):
    h = hashlib.sha256()
    for dirpath, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            path = os.path.join(dirpath, n)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate(seed, root):
    gen.main(["--seed", str(seed), "--out", root])
    return _digest_tree(root)


def test_generators_are_byte_identical_for_one_seed(tmp_path):
    a = _generate(7, str(tmp_path / "a"))
    b = _generate(7, str(tmp_path / "b"))
    c = _generate(8, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_request_stream_and_client_are_seeded():
    keys = list(range(1, 301))
    assert gen.report_requests(3, keys, 200) == gen.report_requests(3, keys, 200)
    assert gen.report_requests(3, keys, 200) != gen.report_requests(4, keys, 200)
    stream = gen.report_requests(3, keys, 200)
    assert sum(r[0] == "range" for r in stream) == 40  # the mix is exact per block
    assert [r[0] for r in stream] == [r[0] for r in gen.report_requests(4, keys, 200)]
    day = date(2024, 1, 10)
    client = gen.EditingClient(5, 2, first_new_day=date(2024, 1, 16))
    assert client(42, day) == gen.EditingClient(5, 2, first_new_day=date(2024, 1, 16))(42, day)


def test_client_edits_only_stored_days_during_increments():
    new_day = date(2024, 1, 20)
    backfill = gen.EditingClient(5, 0, first_new_day=new_day)
    edits = 0
    for u in range(1, 400):
        base = backfill(u, date(2024, 1, 15))
        later = gen.EditingClient(5, 3, first_new_day=new_day)
        assert later(u, new_day) == backfill(u, new_day)  # the new day is never "edited"
        if later(u, date(2024, 1, 15)) != base:
            edits += 1
    assert 0 < edits < 400 * gen.ETL_EDIT_PERMILLE / 1000 * 2


# --- verdict ----------------------------------------------------------------------------


def test_verdict_rules():
    parent = [100.0, 101.0, 99.0, 100.5, 100.2, 99.8, 100.1, 99.9, 100.3, 100.0]
    faster = [p * 0.8 for p in parent]
    assert stats.verdict(parent, faster, "lower", 0.1) == "gain"
    assert stats.verdict(parent, list(parent), "lower", 0.1) == "no change"
    assert stats.verdict(parent, [p * 1.3 for p in parent], "lower", 0.1) == "regression"
    noisy = [50.0, 150.0, 80.0, 120.0, 100.0, 60.0, 140.0, 90.0, 110.0, 100.0]
    assert stats.verdict(parent, noisy, "lower", 0.1) == "unresolved"
    assert stats.pair_wins(parent, faster, "higher") == (0, 10)
