"""Tests for the benchmark's own arithmetic and generators (no Spark).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pytest

import sitegen
import stats
import tablegen


def test_tail_needs_ten_samples_beyond_it():
    assert stats.tail(list(range(19))) is None  # median has only 9 beyond
    assert stats.tail(list(range(1, 21))) == (50.0, 10)
    # 100 samples: p90 leaves exactly 10 beyond, p95 only 5
    assert stats.tail(list(range(1, 101))) == (90.0, 90)
    assert stats.tail(list(range(1, 1001))) == (99.0, 990)


def test_percentile_and_median():
    xs = [5, 1, 4, 2, 3]
    assert stats.percentile(xs, 50) == 3
    assert stats.percentile(xs, 100) == 5
    assert stats.percentile(xs, 1) == 1
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_covered_merges_overlaps_and_skips_empty():
    assert stats.covered([(0, 2), (1, 3), (5, 6), (6, 7), (8, 8)]) == 5
    assert stats.covered([]) == 0


def test_self_time_subtracts_union_of_overlapping_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},   # overlaps 2
        {"id": 4, "parent": 1, "start": 8.0, "end": 12.0},  # outlives 1
        {"id": 5, "parent": 3, "start": 3.5, "end": 4.5},
    ]
    self_s = stats.self_times(spans)
    assert self_s[1] == pytest.approx(10 - (5 + 2))
    assert self_s[2] == pytest.approx(3)
    assert self_s[3] == pytest.approx(3 - 1)
    assert self_s[4] == pytest.approx(4)


def test_driver_time_is_wall_minus_stage_critical_path():
    stages = [(1, 3), (2, 5), (7, 8), (9, 12), (-3, -1)]
    drv, path = stats.driver_seconds((0, 10), stages)
    assert path == pytest.approx(4 + 1 + 1)
    assert drv == pytest.approx(10 - 6)
    # stages covering the whole window leave no driver-only time
    assert stats.driver_seconds((0, 10), [(-1, 11)]) == (0, 10)


_STATUS = """Name:\tjava
VmPeak:\t 5000000 kB
VmHWM:\t  1048576 kB
VmRSS:\t   524288 kB
"""


def test_vm_hwm_parsing():
    assert stats.vm_hwm_mb(_STATUS) == 1024
    with pytest.raises(ValueError):
        stats.vm_hwm_mb("VmRSS:\t 1 kB\n")
    with pytest.raises(ValueError):
        stats.vm_hwm_mb("VmHWM:\t 1 MB\n")


def test_peak_rss_reads_live_pids_and_skips_gone_ones():
    assert stats.peak_rss_mb([os.getpid()]) > 0
    assert stats.peak_rss_mb([2**22 + 7]) == 0


def test_site_changes_exactly_the_seeded_pages():
    site = sitegen.make_site(5, 40, 39, 0.1)
    assert len(site.changed) == 4
    assert site == sitegen.make_site(5, 40, 39, 0.1)
    v0, v1 = sitegen.SiteFetch(site, 0), sitegen.SiteFetch(site, 1)
    differ = {i for i in range(site.n_pages) if v0(site.url(i)) != v1(site.url(i))}
    assert differ == set(site.changed)
    body, ctype = v0(site.file_url(site.n_files - 1))
    assert body and ctype == "text/plain"
    assert v0(site.url(site.n_pages)) == (None, "")
    assert v0("http://elsewhere.bench/x.html") == (None, "")


def test_tables_are_a_function_of_the_seed(tmp_path):
    a = tablegen.generate(str(tmp_path / "a"), 3, 0.001)
    tablegen.generate(str(tmp_path / "b"), 3, 0.001)
    tablegen.generate(str(tmp_path / "c"), 4, 0.001)
    assert a["lineitem"] == 6000 and a["documents"] == 50
    read = lambda d: (tmp_path / d / "documents.parquet").read_bytes()  # noqa: E731
    assert read("a") == read("b")
    assert read("a") != read("c")
