"""Tests of the benchmark's own helpers: the percentile rule, the
metric-name charset, and generator determinism."""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE]

import gen  # noqa: E402
import harness  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 100 samples: p90 has 10 beyond
    q, v = harness.tail_percentile(xs)
    assert q == pytest.approx(0.9) and v == 90.0
    assert sum(x > v for x in xs) == 10


def test_tail_percentile_lowers_the_percentile_for_small_samples():
    xs = [float(i) for i in range(1, 31)]  # 30 samples -> p66.7, 10 beyond
    q, v = harness.tail_percentile(xs)
    assert q == pytest.approx(20 / 30)
    assert sum(x > v for x in xs) == 10


def test_tail_percentile_below_twenty_samples_is_the_cap_percentile():
    assert harness.tail_percentile([3.0, 1.0, 2.0]) == (0.9, 3.0)  # max below ten
    xs = [float(i) for i in range(19)]  # p47 would have 10 beyond: below the median
    assert harness.tail_percentile(xs) == (0.9, 17.0)
    q, v = harness.tail_percentile(xs + [19.0])  # 20 samples: p50, 10 beyond
    assert q == pytest.approx(0.5) and v == 9.0
    with pytest.raises(ValueError):
        harness.tail_percentile([])


def test_tail_percentile_fraction_comes_from_the_minimum_count():
    xs = [float(i) for i in range(1, 41)]  # 40 samples, runs have at least 20
    q, v = harness.tail_percentile(xs, n_min=20)
    assert q == pytest.approx(0.5) and v == 20.0 and sum(x > v for x in xs) >= 10
    q, v = harness.tail_percentile(xs, n_min=18)  # too few for the rule: p90
    assert q == pytest.approx(0.9) and v == 36.0


def test_tail_percentile_never_exceeds_the_cap():
    xs = [float(i) for i in range(1000)]
    q, v = harness.tail_percentile(xs)
    assert q == pytest.approx(0.9) and sum(x > v for x in xs) == 100


@pytest.mark.parametrize("name", ["setup_s", "session.start_s", "operators.dedup.recall",
                                  "op-p50", "9lives"])
def test_metric_names_accepted(name):
    assert harness.check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "_lead", ".lead", "has space", "per/sec", "a" * 65,
                                  "ünïcode"])
def test_metric_names_rejected(name):
    with pytest.raises(ValueError):
        harness.check_metric_name(name)


def test_declared_metric_names_are_valid():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(set(declared)) == len(declared)
    for name in declared:
        harness.check_metric_name(name)
    assert {m["name"] for m in bench["end_to_end"]} == set(run.END_TO_END)
    assert {m["name"] for m in bench["per_layer"]} == set(run.PER_LAYER)


def test_iqr_spread():
    assert harness.iqr_spread([10.0] * 5) == 0.0
    # exclusive quartiles of 1..5 are 1.5 and 4.5
    assert harness.iqr_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(1.0)


def test_summed_rss_leaves_out_a_child_sharing_its_parents_pages():
    me = os.getpid()
    alone = harness._summed_rss_kb([me])
    r, w = os.pipe()
    pid = os.fork()
    if pid == 0:  # a forked, not exec'd child: same virtual size as the parent
        os.close(w)
        os.read(r, 1)
        os._exit(0)
    os.close(r)
    try:
        assert harness._mem_kb(pid)[0] == me
        assert harness._summed_rss_kb([me, pid]) < alone * 1.5
        assert harness._summed_rss_kb([me, 999_999_999]) < alone * 1.5  # gone pid reads 0
    finally:
        os.write(w, b"x")
        os.waitpid(pid, 0)


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


SMALL = {
    "warehouse_stream": {"n_lineitem": 3000},
    "corpus_curation": {"n_docs": 300},
    "yelp_basetable_ml": {"n_business": 100},
    "events_ingest": {"rounds": 3, "per_round": 200},
}


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generators_are_deterministic(workload, tmp_path):
    fn, kw = gen.GENERATORS[workload], SMALL[workload]
    a, b, c = (str(tmp_path / x) for x in "abc")
    truth_a = fn(1, a, **kw)
    truth_b = fn(1, b, **kw)
    fn(2, c, **kw)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    # ground truth is seed-determined too (paths aside)
    assert json.dumps(truth_a, default=str).replace(a, "") == json.dumps(
        truth_b, default=str).replace(b, "")


def test_corpus_truth_is_planted(tmp_path):
    import pyarrow.parquet as pq

    truth = gen.gen_corpus(3, str(tmp_path), n_docs=400)
    text = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    assert truth["exact_groups"] and truth["near_pairs"] and truth["boilerplate_ids"]
    for g in truth["exact_groups"]:
        norm = {" ".join(text[i].lower().split()) for i in g}
        assert len(g) in (2, 3) and len(norm) == 1
    for a, b in truth["near_pairs"]:
        ta, tb = text[a].split(" "), text[b].split(" ")
        assert len(ta) == len(tb) and sum(x != y for x, y in zip(ta, tb)) == 2
