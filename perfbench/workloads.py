"""Workload passes, their output checks, and the traced variants.

Each pass drives the package only through its public functions.  A check
compares a pass's outputs with the generator's ground truth and returns the
quality figures plus the list of failed checks.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from contextlib import contextmanager

# Quality floors, at or just below the seed commit's values.  Over seeds
# 1-60 the seed commit gives link_f1 0.8825-0.9076 (mean 0.8985, standard
# deviation 0.0058; one value per seed, the same on every pass), and over
# seeds 1-10 dedup_f1 0.998-0.999; triple_f1 >= 0.95 is the pipeline
# invariant.  A pass below a floor fails its check.
TRIPLE_F1_FLOOR = 0.95
LINK_F1_FLOOR = 0.88
DEDUP_F1_FLOOR = 0.99


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def pinned_bytes(spark) -> int:
    """Storage (memory + disk) still held by persisted or checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def release_all(spark) -> int:
    """Unpersist everything a pass left pinned; returns how many RDDs."""
    spark.catalog.clearCache()
    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist(True)
    return len(rdds)


def pair_f1(pred: set, gold: set) -> float:
    if not pred and not gold:
        return 1.0
    tp = len(pred & gold)
    return 2 * tp / (len(pred) + len(gold))


def cluster_pair_f1(pred_clusters: list[list[str]], gold: dict[str, str]) -> float:
    """Pairwise F1 of predicted clusters against gold labels, over the items
    of the predicted clusters (an item missing from ``gold`` is a gold
    singleton)."""
    def pairs(n: int) -> int:
        return n * (n - 1) // 2

    pred_pairs = sum(pairs(len(c)) for c in pred_clusters)
    joint, gold_sizes = Counter(), Counter()
    for i, cluster in enumerate(pred_clusters):
        for item in cluster:
            label = gold.get(item, ("unlabelled", item))
            joint[(i, label)] += 1
            gold_sizes[label] += 1
    tp = sum(pairs(n) for n in joint.values())
    gold_pairs = sum(pairs(n) for n in gold_sizes.values())
    if pred_pairs + gold_pairs == 0:
        return 1.0
    return 2 * tp / (pred_pairs + gold_pairs)


# --- kg_wide ----------------------------------------------------------------

def kg_pass(spark, d: str) -> dict:
    """build_kg(link=False) -> triples, link_kg, nodes and edges to a noop sink."""
    from semanticrelationextractionpolish_spark.plans.pipeline import build_kg, link_kg

    pages = spark.read.parquet(os.path.join(d, "pages"))
    rels = spark.read.parquet(os.path.join(d, "relations"))
    stages = build_kg(spark, pages, rels, link=False)
    n_triples = stages["triples"].count()
    link_kg(stages)
    _sink(stages["nodes"])
    _sink(stages["edges"])
    return {"stages": stages, "n_triples": n_triples}


@contextmanager
def split_linking(tracer, calls: dict):
    """While open, the LSH and connected-components calls that
    ``canonicalize`` makes run in spans of their own, and each result is
    forced inside its span, so linking splits into ``linking.lsh``,
    ``linking.cc`` and the rest (``linking.graph``).  The persisted results
    are kept in ``calls["lsh"]`` and ``calls["cc"]`` so that the caller can
    drop them; if ``canonicalize`` stops calling these module functions,
    both layers read 0 and the work shows in ``linking.graph``."""
    from semanticrelationextractionpolish_spark.operators import linking

    real_lsh, real_cc = linking.lsh_candidate_pairs, linking.connected_components

    def lsh(*args, **kwargs):
        with tracer.span("linking.lsh") as counts:
            out = real_lsh(*args, **kwargs).persist()
            counts["rows_out"] = out.count()
        calls["lsh"] = out
        return out

    def cc(*args, **kwargs):
        with tracer.span("linking.cc") as counts:
            out = real_cc(*args, **kwargs).persist()
            counts["rows_out"] = out.count()
        calls["cc"] = out
        return out

    linking.lsh_candidate_pairs, linking.connected_components = lsh, cc
    try:
        yield
    finally:
        linking.lsh_candidate_pairs, linking.connected_components = real_lsh, real_cc


def kg_traced_pass(spark, d: str, tracer, truth: dict) -> dict:
    from semanticrelationextractionpolish_spark.plans.pipeline import build_kg, link_kg

    calls: dict = {}
    with tracer.span("pass"):
        with tracer.span("sources") as c:
            pages = spark.read.parquet(os.path.join(d, "pages"))
            rels = spark.read.parquet(os.path.join(d, "relations"))
            _sink(pages)
            _sink(rels)
            c["rows_out"] = truth["n_pages"]
        with tracer.span("segment") as c:
            stages = build_kg(spark, pages, rels, link=False)
            c["rows_out"] = stages["sentences"].count()
        with tracer.span("mentions") as c:
            c["rows_out"] = stages["mentions"].count()
        with tracer.span("pairs") as c:
            c["rows_out"] = stages["pairs"].count()
        with tracer.span("score") as c:
            n_triples = c["rows_out"] = stages["triples"].count()
        with split_linking(tracer, calls), tracer.span("linking.graph") as graph:
            link_kg(stages)
            _sink(stages["nodes"])
            _sink(stages["edges"])
    graph["rows_out"] = stages["nodes"].count() + stages["edges"].count()
    return {"stages": stages, "n_triples": n_triples, "calls": calls}


def kg_graph(stages: dict) -> tuple[set, set]:
    nodes = {(r["node_id"], r["canonical"], tuple(r["surfaces"]), r["n_mentions"])
             for r in stages["nodes"].collect()}
    edges = {(r["src"], r["dst"], r["pred"], r["n_evidence"])
             for r in stages["edges"].collect()}
    return nodes, edges


def kg_check(out: dict, truth: dict) -> dict:
    from semanticrelationextractionpolish_spark.plans.pipeline import evaluate_parity

    parity = evaluate_parity(out["stages"])
    nodes, edges = kg_graph(out["stages"])
    link_f1 = cluster_pair_f1([list(n[2]) for n in nodes], truth["surface_entity"])
    failures = []
    if out["n_triples"] != truth["n_gold_triples"]:
        failures.append(f"triple count {out['n_triples']} != {truth['n_gold_triples']}")
    if parity["f1"] < TRIPLE_F1_FLOOR:
        failures.append(f"triple_f1 {parity['f1']:.4f} < {TRIPLE_F1_FLOOR}")
    if link_f1 < LINK_F1_FLOOR:
        failures.append(f"link_f1 {link_f1:.4f} < {LINK_F1_FLOOR}")
    if sum(e[3] for e in edges) != out["n_triples"]:
        failures.append("edge evidence does not sum to the triple count")
    return {"triple_f1": parity["f1"], "link_f1": link_f1, "pair_f1": link_f1,
            "graph": (nodes, edges), "failures": failures}


def lsh_true_pair_ratio(out: dict, truth: dict) -> float:
    """Share of LSH-verified lemma pairs whose lemmas come from one planted
    entity (a lemma's entity is the one most of its surfaces belong to)."""
    lemma_entities: dict[str, Counter] = {}
    for r in out["stages"]["mentions"].select("surface", "lemma").distinct().collect():
        ent = truth["surface_entity"].get(r["surface"])
        lemma_entities.setdefault(r["lemma"], Counter())[ent] += 1
    entity = {lemma: c.most_common(1)[0][0] for lemma, c in lemma_entities.items()}
    if "lsh" not in out["calls"]:
        return 0.0
    pairs = out["calls"]["lsh"].select("a", "b").collect()
    if not pairs:
        return 0.0
    useful = sum(1 for a, b in pairs if entity.get(a) is not None and entity.get(a) == entity.get(b))
    return useful / len(pairs)


# --- streaming (traced kg_wide runs only) -----------------------------------

def _trigger_listener(durations: list):
    """A StreamingQueryListener that appends each micro-batch's
    triggerExecution (seconds) to ``durations``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            durations.append(event.progress.durationMs.get("triggerExecution", 0) / 1000.0)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def stream_traced_pass(spark, d: str, tracer, work: str, truth: dict) -> dict:
    """stream_kg over the staged page files, one file per micro-batch, into
    fresh output, checkpoint and state directories."""
    from semanticrelationextractionpolish_spark.streaming.pipeline import stream_kg

    out_dir, ckpt, state = (os.path.join(work, n) for n in ("out", "ckpt", "state"))
    triggers: list[float] = []
    listener = _trigger_listener(triggers)
    spark.streams.addListener(listener)
    batches: list[dict] = []
    try:
        with tracer.span("stream_pass"), tracer.span("streaming"):
            query = stream_kg(spark, os.path.join(d, "pages"), os.path.join(d, "relations"),
                              out_dir, ckpt, state, max_files_per_trigger=1,
                              batch_metrics=batches)
            query.awaitTermination(150)
            if query.isActive:
                query.stop()
                raise RuntimeError("stream_kg did not drain within 150 s")
        deadline = time.time() + 10
        while len(triggers) < len(batches) and time.time() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
    return {"out_dir": out_dir, "state": state, "batches": batches,
            "triggers": list(triggers), "state_bytes": _dir_bytes(state)}


def stream_check(spark, out: dict, batch_graph: tuple, truth: dict) -> dict:
    """The streamed graph against the batch graph of the same pages.

    ``stream_kg`` documents one divergence from batch linking: the LSH
    bucket cap applies to bucket sizes as seen when a micro-batch probes
    them, so a bucket that overflows only later keeps its earlier edges.
    The streamed clusters may therefore be unions of batch clusters, and
    nothing else may differ: every batch node lies inside one streamed node
    whose surfaces and mention count are the union and sum of its batch
    nodes, and the edges equal the batch edges mapped onto streamed nodes.
    ``cap_merges`` counts streamed nodes that join several batch nodes."""
    from semanticrelationextractionpolish_spark.streaming.pipeline import streamed_graph

    got = streamed_graph(spark, out["out_dir"], out["state"])
    nodes = {(r["node_id"], r["canonical"], tuple(r["surfaces"]), r["n_mentions"])
             for r in got["nodes"].collect()}
    edges = Counter()
    for r in got["edges"].collect():
        edges[(r["src"], r["dst"], r["pred"])] += r["n_evidence"]
    n_triples = got["triples"].count()
    batch_nodes, batch_edges = batch_graph
    failures = []
    stream_of = {s: n[0] for n in nodes for s in n[2]}
    members: dict = {}
    for node in batch_nodes:
        owners = {stream_of.get(s) for s in node[2]}
        if len(owners) != 1 or None in owners:
            failures.append(f"batch node {node[1]!r} is split or missing in the streamed graph")
            continue
        members.setdefault(owners.pop(), []).append(node)
    for node_id, canonical, surfaces, n_mentions in nodes:
        parts = members.get(node_id, [])
        if (set(surfaces) != {s for p in parts for s in p[2]}
                or n_mentions != sum(p[3] for p in parts)):
            failures.append(f"streamed node {canonical!r} is not a union of batch nodes")
    to_stream = {p[0]: node_id for node_id, parts in members.items() for p in parts}
    mapped = Counter()
    for src, dst, pred, n in batch_edges:
        mapped[(to_stream.get(src), to_stream.get(dst), pred)] += n
    if mapped != edges:
        failures.append("streamed edges differ from the batch edges")
    if len(out["batches"]) != truth["n_files"]:
        failures.append(f"{len(out['batches'])} micro-batches, expected {truth['n_files']}")
    return {"n_triples": n_triples, "failures": failures[:5],
            "cap_merges": sum(1 for parts in members.values() if len(parts) > 1)}


# --- web_dedup --------------------------------------------------------------

def _pairs(rows, a: str, b: str) -> set:
    return {(min(r[a], r[b]), max(r[a], r[b])) for r in rows}


def dedup_pass(spark, d: str, truth: dict, tracer=None) -> dict:
    """exact_dedup, minhash_near_dup_pairs with the default and the md5 hash
    family, and simhash_near_dup_pairs, each collected."""
    from semanticrelationextractionpolish_spark.operators.dedup import (
        exact_dedup, minhash_near_dup_pairs, simhash_near_dup_pairs)

    span = tracer.span if tracer else _no_span
    out = {}
    with span("pass"):
        with span("sources") as c:
            docs = spark.read.parquet(os.path.join(d, "docs"))
            if tracer:
                _sink(docs)
            c["rows_out"] = truth["n_docs"]
        with span("dedup.exact") as c:
            groups = exact_dedup(docs).collect()
            out["exact"] = c["rows_out"] = len(groups)
            out["exact_copies"] = sum(r["n_copies"] for r in groups)
        for family, key in ((None, "minhash"), ("md5", "minhash_md5")):
            with span("dedup.minhash") as c:
                kwargs = {"hash_fn": family} if family else {}
                out[key] = _pairs(minhash_near_dup_pairs(docs, **kwargs).collect(), "doc_a", "doc_b")
                c["rows_out"] = len(out[key])
        with span("dedup.simhash") as c:
            out["simhash"] = _pairs(simhash_near_dup_pairs(docs).collect(), "doc_a", "doc_b")
            c["rows_out"] = len(out["simhash"])
    return out


@contextmanager
def _no_span(name):
    yield {}


def dedup_check(out: dict, truth: dict) -> dict:
    planted = {tuple(p) for p in truth["planted_pairs"]}
    exact = {tuple(p) for p in truth["exact_pairs"]}
    f1 = pair_f1(out["minhash"], planted)
    f1_md5 = pair_f1(out["minhash_md5"], planted)
    failures = []
    if out["exact"] != truth["n_exact_groups"] or out["exact_copies"] != truth["n_docs"]:
        failures.append(f"exact_dedup: {out['exact']} groups / {out['exact_copies']} copies, "
                        f"expected {truth['n_exact_groups']} / {truth['n_docs']}")
    if f1 < DEDUP_F1_FLOOR:
        failures.append(f"dedup_f1 {f1:.4f} < {DEDUP_F1_FLOOR}")
    if f1_md5 < DEDUP_F1_FLOOR:
        failures.append(f"dedup_f1 (md5) {f1_md5:.4f} < {DEDUP_F1_FLOOR}")
    if not exact <= out["simhash"]:
        failures.append(f"simhash missed {len(exact - out['simhash'])} exact-copy pairs")
    emitted = len(out["minhash"]) + len(out["minhash_md5"])
    useful = len(out["minhash"] & planted) + len(out["minhash_md5"] & planted)
    return {"dedup_f1": f1, "pair_f1": f1,
            "true_pair_ratio": useful / emitted if emitted else 0.0,
            "family_mismatch_pairs": len(out["minhash"] ^ out["minhash_md5"]),
            "failures": failures}


def n_units(workload: str, truth: dict) -> int:
    return truth["n_pages"] if workload == "kg_wide" else truth["n_docs"]


def run_pass(workload: str, spark, d: str, truth: dict):
    return kg_pass(spark, d) if workload == "kg_wide" else dedup_pass(spark, d, truth)


def check_pass(workload: str, out, truth: dict) -> dict:
    return kg_check(out, truth) if workload == "kg_wide" else dedup_check(out, truth)
