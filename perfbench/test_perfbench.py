"""Self-tests for the benchmark's own helpers. No Spark session is started.

    python3 -m pytest perfbench -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import ledger  # noqa: E402
import run  # noqa: E402


def test_generator_is_deterministic_per_seed():
    a = gen.Corpus(7, 40)
    b = gen.Corpus(7, 40)
    c = gen.Corpus(8, 40)
    assert a.docs == b.docs and a.tokens == b.tokens
    assert a.docs != c.docs
    assert a.facts(5) == b.facts(5)
    assert gen.queries(a, 3, 50) == gen.queries(b, 3, 50)
    assert gen.queries(a, 3, 50) != gen.queries(a, 4, 50)


def test_corpus_has_hot_keywords_and_a_long_tail():
    c = gen.Corpus(2, 200)
    f = c.facts(5)
    assert f["df_over_half"] > 0 and f["df_max"] > 100
    assert f["df_median"] == 1


def test_query_mix():
    c = gen.Corpus(3, 100)
    qs = gen.queries(c, 1, 2000)
    with_absent = 0
    for keys in qs:
        uni = list(dict.fromkeys(k for k in keys if isinstance(k, str)))
        pairs = {k for k in keys if isinstance(k, tuple)}
        assert 1 <= len(uni) <= gen.MAX_TERMS
        # every 2-combination of the unigrams, sorted, and nothing else
        assert pairs == {tuple(sorted(p)) for p in
                         ((x, y) for i, x in enumerate(uni)
                          for y in uni[i + 1:])}
        absent = [t for t in uni if t not in c.df]
        assert len(absent) <= 1
        with_absent += bool(absent)
    assert 0.15 < with_absent / len(qs) < 0.25
    repeats = sum(len(set(q)) < len(q) for q in qs) / len(qs)
    assert 0.06 < repeats < 0.14


def test_tail_rule_keeps_ten_samples_beyond():
    assert ledger.tail(list(range(19))) is None
    p, v = ledger.tail(list(range(20)))
    assert p == 50.0 and v == 9.0  # ranks 11..20 lie beyond
    p, v = ledger.tail(list(range(1, 101)))
    assert p == 90.0 and v == 90.0
    p, v = ledger.tail(list(range(1, 1001)))
    assert p == 99.0 and v == 990.0
    for n in (20, 57, 100, 333, 1000, 12345):
        p, v = ledger.tail(list(range(n)))
        assert sum(1 for x in range(n) if x > v) >= ledger.MIN_BEYOND


def test_metric_names_are_valid_and_match_benchmark_json():
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    assert len(names) == len(set(names))
    for n in names:
        assert ledger.NAME_RE.match(n), n
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


CANNED_LOG = [
    {"Event": "SparkListenerApplicationStart", "App Name": "x"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "g1"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
     "Properties": {}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
     "Properties": {"spark.jobGroup.id": "g2"}},
]
for _sid, _run, _write, _read in (
        (0, 100, 500, 0), (0, 300, 700, 0), (0, 200, 600, 0),
        (1, 50, 0, 1800), (2, 999, 0, 0), (3, 40, 0, 0), (3, 40, 0, 0)):
    CANNED_LOG.append({
        "Event": "SparkListenerTaskEnd", "Stage ID": _sid,
        "Task Metrics": {
            "Executor Run Time": _run, "JVM GC Time": 10,
            "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": _read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": _write}}})
CANNED_LOG.append({"Event": "SparkListenerTaskEnd", "Stage ID": 3})


def test_event_log_parser_on_canned_log():
    g = ledger.parse_event_log(json.dumps(e) + "\n" for e in CANNED_LOG)
    assert set(g) == {"g1", "g2"}  # the ungrouped job is left out
    g1 = g["g1"]
    assert g1["tasks"] == 4
    assert abs(g1["run_s"] - 0.65) < 1e-9
    assert abs(g1["gc_s"] - 0.04) < 1e-9
    assert g1["spill_bytes"] == 12
    assert g1["shuffle_write_bytes"] == 1800
    assert g1["shuffle_read_bytes"] == 1800
    assert g1["task_skew"] == 1.5  # stage 0 dominates: 300 / 200
    assert g["g2"]["task_skew"] == 1.0


def test_tracer_nests_and_can_be_disabled():
    t = ledger.Tracer("r")
    with t.span("outer") as o:
        with t.span("inner") as i:
            pass
    assert i["parent"] == o["id"] and o["parent"] is None
    assert o["start"] <= i["start"] <= i["end"] <= o["end"]
    t.enabled = False
    with t.span("skipped") as s:
        assert s is None
    assert [x["name"] for x in t.spans] == ["outer", "inner"]
