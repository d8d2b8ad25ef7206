"""Tests of the benchmark's own helpers: the seeded generator, self-time
subtraction, percentiles and the event-log rollup.  No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter, defaultdict
from itertools import combinations

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402
from helpers import (  # noqa: E402
    NO_GROUP,
    SQL_START,
    percentile,
    read_event_log,
    rollup_event_log,
    self_times,
    sql_sum,
    summarize,
)
from probes import descendants, host_burn_s, reap_descendants  # noqa: E402

# every modulus the synthetic page source derives a page property from
KIND_MODULI = (3, 4, 5, 7, 11, 16)


def kind_mix(doc_ids) -> list[Counter]:
    return [Counter(d % m for d in doc_ids) for m in KIND_MODULI]


# ------------------------------------------------------------- generator


def test_same_seed_same_corpus():
    assert corpus.table_digest(corpus.extract_documents(3, 500)) == corpus.table_digest(
        corpus.extract_documents(3, 500)
    )
    assert corpus.table_digest(corpus.dedup_documents(3, 300)) == corpus.table_digest(
        corpus.dedup_documents(3, 300)
    )


def test_other_seed_other_ids_same_sizes_and_mix():
    a = corpus.extract_documents(3, 2000)
    b = corpus.extract_documents(4, 2000)
    ids_a = a.column("doc_id").to_pylist()
    ids_b = b.column("doc_id").to_pylist()
    assert not set(ids_a) & set(ids_b)
    assert a.num_rows == b.num_rows == 2000
    assert kind_mix(ids_a) == kind_mix(ids_b)
    # same texts, so the same word counts and HTML/plain grammar inputs
    assert a.column("text").to_pylist() == b.column("text").to_pylist()


def test_base_corpus_has_the_measured_statistics():
    texts, langs = corpus.base_corpus()
    assert len(texts) == len(langs) == corpus.N_BASE
    n_words = [len(t.split()) for t in texts]
    assert (min(n_words), max(n_words)) == (corpus.MIN_WORDS, corpus.MAX_WORDS)
    assert {w for t in texts for w in t.split()} == set(corpus.VOCAB)
    assert len(set(texts)) == corpus.N_BASE - corpus.EXACT_DUPS
    shares = Counter(langs)
    for lang, share in zip(corpus.LANGS, corpus.LANG_SHARE):
        assert shares[lang] / corpus.N_BASE == pytest.approx(share, abs=0.02)
    # chain docs: a text of the same length differs in at most LINK_EDITS
    # words (random texts of one length differ in almost every word)
    by_len = defaultdict(list)
    for t in set(texts):
        by_len[len(t.split())].append(t)
    chained = {
        t
        for group in by_len.values()
        for a, b in combinations(group, 2)
        if sum(x != y for x, y in zip(a.split(), b.split())) <= corpus.LINK_EDITS
        for t in (a, b)
    }
    assert len(chained) == corpus.CHAINS * (corpus.CHAIN_LINKS + 1)


def test_dedup_corpus_shape_is_seed_independent():
    a = corpus.dedup_documents(3, 6000)
    b = corpus.dedup_documents(4, 6000)
    assert a.num_rows == b.num_rows == 12000
    assert corpus.table_digest(a) != corpus.table_digest(b)
    # the same texts, so the same LSH graph and round count for every seed
    assert a.column("text") == b.column("text")
    ids = a.column("doc_id").to_pylist()
    texts = a.column("text").to_pylist()
    # planted near-dup i = original i + suffix, id + MUTANT_ID_BASE
    assert ids[6000 + 17] == ids[17] + corpus.MUTANT_ID_BASE
    assert texts[6000 + 17] == texts[17] + corpus.MUTANT_SUFFIX
    # two replicas of one base text share no word token
    assert not set(texts[0].split()) & set(texts[corpus.N_BASE].split())


def test_stream_batches_plant_pairs_across_batches():
    batches = corpus.stream_batches(5, 3, 100)
    assert [t.num_rows for t in batches] == [100, 200, 200]
    first = set(batches[0].column("doc_id").to_pylist())
    mutants = batches[1].column("doc_id").to_pylist()[100:]
    assert {m - corpus.MUTANT_ID_BASE for m in mutants} == first


def test_doc_id_offset_is_whole_mix_periods():
    for seed in range(5):
        assert corpus.doc_id_offset(seed) % corpus.MIX_PERIOD == 0


# ------------------------------------------------------------ statistics


def test_self_times_subtracts_the_previous_prefix():
    got = self_times([("synth", 1.0), ("decode", 3.5), ("spans", 4.0)])
    assert got == pytest.approx({"synth": 1.0, "decode": 2.5, "spans": 0.5})


def test_self_times_keeps_negative_noise():
    assert self_times([("a", 2.0), ("b", 1.9)])["b"] == pytest.approx(-0.1)


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == pytest.approx(2.5)
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 90) == pytest.approx(3.7)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_summarize_reports_the_sample_count():
    got = summarize([3, 1, 2])
    assert got == {"p50": 2.0, "p90": pytest.approx(2.8), "min": 1.0, "max": 3.0, "n": 3}


# ---------------------------------------------------------------- rollup


def _events() -> list[dict]:
    plan = {
        "nodeName": "ArrowEvalPython",
        "metrics": [
            {"accumulatorId": 7, "name": "time to run Python workers", "metricType": "timing"},
            {"accumulatorId": 8, "name": "number of output rows", "metricType": "sum"},
        ],
        "children": [
            {
                "nodeName": "Scan parquet ",
                "metadata": {"Location": "InMemoryFileIndex[file:/w/input]"},
                "metrics": [
                    {"accumulatorId": 9, "name": "scan time", "metricType": "nsTiming"}
                ],
                "children": [],
            }
        ],
    }

    def task(stage, run_ms, shuffle_w=0, shuffle_r=0, out=0, accs=()):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Accumulables": [{"ID": i, "Update": u} for i, u in accs]},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_r},
                "Output Metrics": {"Bytes Written": out},
                "Input Metrics": {"Bytes Read": 10},
            },
        }

    return [
        {"Event": SQL_START, "executionId": 0, "sparkPlanInfo": plan},
        {
            "Event": "SparkListenerJobStart",
            "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "decode#0", "spark.sql.execution.id": "0"},
        },
        task(0, 1500, shuffle_w=100, accs=[(7, 2000), (8, 50), (9, 3_000_000_000)]),
        task(0, 500, shuffle_w=50, accs=[(7, 1000), (8, 30)]),
        task(1, 250, shuffle_r=150, out=4096),
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        task(2, 100),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3},  # a stage no job announced
    ]


def test_rollup_groups_tasks_and_sql_metrics():
    got = rollup_event_log(_events())
    g = got["decode#0"]
    assert (g["jobs"], g["tasks"]) == (1, 3)
    assert g["run_s"] == pytest.approx(2.25)
    assert g["shuffle_write_b"] == 150
    assert g["shuffle_read_b"] == 150
    assert g["output_b"] == 4096
    assert g["input_b"] == 30
    assert g["scans"] == ["InMemoryFileIndex[file:/w/input]"]
    assert g["sql"]["ArrowEvalPython/time to run Python workers"] == pytest.approx(3.0)
    assert g["sql"]["ArrowEvalPython/number of output rows"] == 80
    assert g["sql"]["Scan parquet /scan time"] == pytest.approx(3.0)
    assert sql_sum(g, "ArrowEvalPython", "number of output rows") == 80
    assert sql_sum(g, "", "time to run Python workers") == pytest.approx(3.0)
    assert sql_sum(g, "Project", "number of output rows") == 0
    assert g["metric_tasks"] == {
        "time to run Python workers": 2, "number of output rows": 2, "scan time": 1
    }
    other = got[NO_GROUP]
    assert (other["jobs"], other["tasks"]) == (1, 2)


def test_read_event_log_skips_blank_lines(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in _events()) + "\n\n")
    assert rollup_event_log(read_event_log(str(path)))["decode#0"]["tasks"] == 3


# ------------------------------------------------------------- processes


def test_host_burn_leaves_no_process_behind():
    assert host_burn_s(2, rounds=200, reps=2) > 0
    assert descendants(os.getpid()) == []


def test_reap_descendants_ends_and_waits_for_children():
    kid = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    assert kid.pid in descendants(os.getpid())
    reap_descendants(grace=2)
    assert descendants(os.getpid()) == []
