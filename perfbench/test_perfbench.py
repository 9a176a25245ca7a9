"""Tests of the benchmark's own code: seeded inputs and the event-log collector.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import json
import os

import pytest

import child
import gen
import run
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


def test_kg_pages_same_seed_same_rows():
    assert gen.kg_pages(7, 80, 80) == gen.kg_pages(7, 80, 80)
    pages, rels, truth = gen.kg_pages(7, 80, 80)
    other, other_rels, _ = gen.kg_pages(8, 80, 80)
    assert [p["text"] for p in pages] != [p["text"] for p in other]
    assert rels != other_rels
    assert truth["n_gold_triples"] > 0 and truth["surface_entity"]


def test_web_docs_same_seed_same_rows():
    assert gen.web_docs(7, 400) == gen.web_docs(7, 400)
    docs, truth = gen.web_docs(7, 400)
    other, _ = gen.web_docs(8, 400)
    assert [d["text"] for d in docs] != [d["text"] for d in other]
    texts = {d["doc_id"]: d["text"] for d in docs}
    assert sum(t is None for t in texts.values()) == 3
    for a, b in truth["planted_pairs"]:
        assert gen.jaccard(texts[a], texts[b]) >= 0.7
    assert set(map(tuple, truth["exact_pairs"])) <= set(map(tuple, truth["planted_pairs"]))


def test_stage_writes_identical_parquet_for_one_seed(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    first = gen.stage("web_dedup", 3, str(tmp_path / "a"))
    second = gen.stage("web_dedup", 3, str(tmp_path / "b"))
    other = gen.stage("web_dedup", 4, str(tmp_path / "a"))
    read = lambda d: pq.read_table(os.path.join(d, "docs")).to_pylist()
    assert read(first) == read(second)
    assert read(first) != read(other)


def test_variants_of_one_entity_stay_one_cluster():
    vocab = gen.build_vocabulary(5, 200)
    owners = {}
    for entities in vocab.values():
        for ent_id, variants in entities:
            for v in variants:
                assert owners.setdefault(v.lower(), ent_id) == ent_id
    assert sum(len(e) for e in vocab.values()) >= 200


# --- event log --------------------------------------------------------------

T0 = 1792206049.0


def _span(name, start, end, parent="pass"):
    return {"name": name, "parent": parent, "run_id": "r", "start": T0 + start,
            "end": T0 + end, "counts": {}}


def test_layer_table_on_recorded_log():
    log = os.path.join(HERE, "fixtures", "tiny_eventlog.jsonl")
    jobs = spans.parse_jobs(spans.read_events(log))
    assert sorted(jobs) == [0, 1, 2, 3]
    recorded = [
        _span("pass", 0.700, 4.100, parent=None),
        _span("probe.a", 0.720, 3.720),
        _span("probe.b", 3.800, 4.080),
    ]
    table = spans.layer_table(recorded, jobs)

    a = table["probe.a"]
    assert a["jobs"] == 2
    assert a["cpu_s"] == pytest.approx(1.110269194)
    assert a["shuffle_mb"] == pytest.approx(1823 / 1e6)
    assert a["python_s"] == pytest.approx(8.090)
    assert a["wall_s"] == pytest.approx(3.0)
    # tasks ran 49.857-52.352 and 52.535-52.695 inside the span
    assert a["driver_s"] == pytest.approx(3.0 - 2.495 - 0.160, abs=1e-6)

    # job 3 carries a group that is no span name: it belongs to the
    # innermost span open when it was submitted
    b = table["probe.b"]
    assert b["jobs"] == 2
    assert b["cpu_s"] == pytest.approx(0.055538658)
    assert b["shuffle_mb"] == pytest.approx(236 / 1e6)
    assert b["driver_s"] == pytest.approx(0.280 - 0.083 - 0.036, abs=1e-6)

    root = table["pass"]
    assert root["jobs"] == 0
    assert root["wall_s"] == pytest.approx(3.4 - 3.0 - 0.28, abs=1e-6)
    assert root["driver_s"] == pytest.approx(root["wall_s"], abs=1e-6)
    total = sum(row["wall_s"] for row in table.values())
    assert total == pytest.approx(3.4, abs=1e-6)


def test_scan_bytes_go_to_the_first_job_of_their_sql_execution():
    sql = spans.SQL_EVENTS
    plan = {"nodeName": "Scan parquet", "metrics": [
        {"name": "size of files read", "accumulatorId": 41},
        {"name": "number of output rows", "accumulatorId": 42}], "children": []}
    events = [
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 5, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 7, "Submission Time": 1000, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "sources", "spark.sql.execution.id": "5"}},
        {"Event": "SparkListenerJobStart", "Job ID": 8, "Submission Time": 1001, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "sources", "spark.sql.execution.id": "5"}},
        {"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": 5,
         "accumUpdates": [[41, 2_500_000], [42, 99]]},
    ]
    jobs = spans.parse_jobs(events)
    assert jobs[7]["files_read_bytes"] == 2_500_000 and jobs[8]["files_read_bytes"] == 0
    table = spans.layer_table([_span("sources", 0.0, 5.0, parent=None)], jobs)
    assert table["sources"]["bytes_read_mb"] == pytest.approx(2.5)


def test_benchmark_json_lists_what_the_runs_print():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == child.PER_LAYER_METRICS
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in bench["per_layer"])
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_tracer_records_parents_and_self_time():
    tracer = spans.Tracer("run-1")
    with tracer.span("outer"):
        with tracer.span("inner") as counts:
            counts["rows_out"] = 3
    inner, outer = tracer.spans
    assert inner["parent"] == "outer" and outer["parent"] is None
    assert inner["counts"] == {"rows_out": 3}
    own = spans.self_intervals(outer, tracer.spans)
    covered = sum(e - s for s, e in own) + (inner["end"] - inner["start"])
    assert covered == pytest.approx(outer["end"] - outer["start"])


def test_cluster_pair_f1():
    gold = {"a": 1, "b": 1, "c": 2, "d": 2}
    assert workloads.cluster_pair_f1([["a", "b"], ["c", "d"]], gold) == 1.0
    # one merge too many: 2 true pairs of 2 gold, 6 predicted pairs
    assert workloads.cluster_pair_f1([["a", "b", "c", "d"]], gold) == pytest.approx(2 * 2 / (6 + 2))
    assert workloads.pair_f1({(1, 2)}, {(1, 2), (3, 4)}) == pytest.approx(2 / 3)
