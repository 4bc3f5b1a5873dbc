"""Self-tests of the benchmark: its generator and closed-form tallies
against a direct pipeline run, its checks against a wrong expectation,
its metric names, and its traced run.

Run: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import gen, metrics, probes, spans, workloads
from perfbench.run import render

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------------------ pure parts
def test_metric_names_are_well_formed():
    names = metrics.END_TO_END + metrics.PER_LAYER
    assert len(names) == len(set(names))
    for name in names:
        assert metrics.NAME_RE.match(name), name


def test_design_predictions_name_declared_metrics():
    with open(os.path.join(ROOT, "perfbench", "design.json")) as fh:
        design = json.load(fh)
    layer = set(metrics.PER_LAYER)
    e2e = set(metrics.END_TO_END)
    for p in design["predictions"]:
        assert set(p["layer_metrics"]) <= layer, p
        assert set(p["moves"]) <= e2e, p
        assert set(p["on"]) | set(p["no_change_on"]) <= set(metrics.EXERCISED), p


def test_tail_is_the_highest_percentile_with_ten_beyond():
    assert workloads.tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)
    samples = [float(i) for i in range(1, 41)]
    value, pct, n = workloads.tail(samples)
    assert (pct, n) == (75, 40)
    assert sum(1 for x in samples if x > value) == 10


def test_spark_metric_strings_parse():
    assert probes.parse_metric("6,000") == {"total": 6000.0}
    assert probes.parse_metric("37.3 KiB") == {"total": 37.3 * 1024}
    m = probes.parse_metric("total (min, med, max (stageId: taskId))\n"
                            "7.2 s (784 ms, 892 ms, 1.2 s (stage 42.0: task 114))")
    assert m == pytest.approx({"total": 7.2, "min": 0.784, "med": 0.892,
                               "max": 1.2})


def test_span_self_time_excludes_children():
    tr = spans.Tracer()
    with tr.span("layer") as outer:
        with tr.span(spans.MATERIALIZE) as inner:
            pass
    assert tr.self_time(outer) == pytest.approx(
        outer.duration - inner.duration)


def test_a_wrong_expectation_is_a_failure():
    c = workloads.Check()
    c.expect(True, "fine")
    c.expect(False, "mismatch")
    res = {"values": {}, "report": {}, "attempted": 3, "failed": c.failed}
    report, line = render(res, metrics.END_TO_END)
    assert line["correct"] is False and line["failed"] == 1
    assert report["error_rate"] == f"{1 / 3:.6g} ratio"
    res["failed"] = 0
    report, line = render(res, metrics.END_TO_END)
    assert line["correct"] is True and report["error_rate"] == "0 ratio"
    assert set(line["metrics"]) == set(metrics.END_TO_END)


def test_corpus_plants_what_it_claims():
    spec = gen.CorpusSpec(200, seed=3)
    c = gen.make_corpus(spec)
    assert len(c.pairs) == int(200 * spec.exact_share) + int(200 * spec.near_share)
    ids = [i for p in c.pairs for i in p]
    assert len(ids) == len(set(ids))          # one partner per base
    assert sum(v is None for v in c.vectors) == int(200 * spec.null_share)
    assert gen.make_corpus(spec).texts == c.texts   # same seed, same corpus


# ------------------------------------------------------- against Spark
def test_relabelled_pages_keep_every_line(spark):
    """The seeded table is ``datagen.generate_pages``' table with each
    qid and url renamed by the seeded bijection: the same number of
    lines per url, and exactly the qids the closed form expects."""
    from collections import Counter
    from log_ship_elastic_postfix_spark import datagen

    spec = gen.PagesSpec(40, n_hot=2, hot_lines=5, seed=4)
    ours = gen.page_table(spark, spec)
    theirs = datagen.generate_pages(spark, 40, n_hot=2, hot_lines=5,
                                    n_partitions=2)
    assert sorted(Counter(ours.column("url").to_pylist()).values()) == sorted(
        r["count"] for r in theirs.groupBy("url").count().collect())
    qids = {q for h in ours.column("html").to_pylist()
            for q in re.findall(r"3[0-9A-Z]+zXy", h.decode())}
    assert qids == {gen.qid_of(spec.relabel(u)) for u in range(40)}
    assert gen.page_table(spark, spec).equals(ours)   # same seed, same rows


def test_spark_hash_matches_spark(spark):
    from pyspark.sql import functions as F

    texts = [gen.qid_of(u) for u in range(0, 5000, 37)] + ["", "a", "ab", "é"]
    got = [r[0] for r in spark.createDataFrame([(t,) for t in texts], "t string")
           .select(F.hash("t")).collect()]
    assert got == [gen.spark_hash(t) for t in texts]


def test_closed_form_tallies_match_a_direct_run(spark, tmp_path):
    from pyspark.sql import functions as F

    wl = workloads.BatchSkewed(7, str(tmp_path), n_urls=60, n_hot=2,
                               hot_lines=20)
    wl.stage(spark)
    wl.op(spark, 0)
    c = wl.check(spark)
    assert c.failed == 0, c.notes
    assert c.recall == 1.0
    # the seed moves the hot qids, which always share one fold task
    n_tasks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    other = gen.place_hot(gen.PagesSpec(60, 2, 20, seed=8), n_tasks)
    hot = [gen.qid_of(wl.spec.relabel(u)) for u in range(2)]
    assert hot != [gen.qid_of(other(u)) for u in range(2)]
    tasks = {r[0] for r in spark.createDataFrame([(q,) for q in hot], "qid string")
             .select(F.pmod(F.hash("qid"), F.lit(n_tasks))).collect()}
    assert len(tasks) == 1


def test_a_wrong_tally_is_reported(spark, tmp_path):
    wl = workloads.BatchSkewed(7, str(tmp_path), n_urls=60, n_hot=2,
                               hot_lines=20)
    wl.stage(spark)
    wl.op(spark, 0)
    wl.expected["sinks"][gen.ORPHAN_SINK]["event_count"] += 1
    c = wl.check(spark)
    assert c.failed == 1 and "sink counts" in c.notes[0]


def _traced(spark, wl):
    wl.stage(spark)
    wl.warm(spark)
    out: dict = {}
    check = wl.traced(spark, spans.Tracer(), out)
    assert check.failed == 0, check.notes
    return out


@pytest.mark.parametrize("name", list(metrics.EXERCISED))
def test_traced_run_emits_its_layers(spark, tmp_path, name):
    wl = {
        "batch_skewed": lambda: workloads.BatchSkewed(
            3, str(tmp_path), n_urls=80, n_hot=2, hot_lines=30),
        "incremental": lambda: workloads.Incremental(
            3, str(tmp_path), n_urls=200, batch_lines=128),
        "neardup": lambda: workloads.NearDup(3, str(tmp_path), n_docs=120),
    }[name]()
    out = _traced(spark, wl)
    values = metrics.payload(out, metrics.PER_LAYER)
    assert len(values) == len(metrics.PER_LAYER)
    for key in metrics.exercised(name):
        assert key in out, key
        if key.endswith("_s") and key != "plans.pipeline.tracing_overhead_s":
            assert out[key] > 0, key
    assert 0.9 < out["plans.pipeline.span_coverage"] <= 1.0 + 1e-9
