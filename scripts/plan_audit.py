"""Re-runnable physical-plan audit (backs PLANS.md).

Usage: python scripts/plan_audit.py [sf_dir]
Prints the formatted plan head for each audited operator and FAILs (exit
1) if a required plan property disappears — a regression guard for
pushdown/broadcast/codegen shapes.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from threat_intelligence_knowledge_graph_spark.session import build_session


def plan_of(df) -> str:
    jdf = df._jdf
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jdf.queryExecution().explainString(mode)


def _ktruss_round_plan(em, spark, sf_dir):
    """One k_truss peel round's un-checkpointed support plan over the
    planted truss gadgets (the q_graph_ktruss input)."""
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        _canonical_edges,
        edge_support,
    )

    return edge_support(
        _canonical_edges(em._truss_gadget_edges(spark, sf_dir), "src", "dst")
    )


def _anf_round_plan(spark):
    """One HyperANF round's un-checkpointed sketch-merge plan over a
    tiny in-memory graph (topology is irrelevant to the plan shape)."""
    from pyspark.sql import functions as F
    from threat_intelligence_knowledge_graph_spark.operators.graph_algos import (
        _anf_round,
    )

    sym = spark.createDataFrame([("a", "b"), ("b", "a")], ["u", "v"])
    sk = spark.createDataFrame([("a",), ("b",)], ["id"]).select(
        "id", F.array(*[F.lit(0) for _ in range(16)]).alias("regs")
    )
    return _anf_round(sym, sk, 16)


def main(sf_dir: str) -> int:
    spark = build_session("plan-audit", master="local[4]", shuffle_partitions=8)
    import __spark_entry__ as em

    failures = []

    def check(
        name: str,
        df,
        must_contain: list[str],
        must_not: list[str] = (),
        max_counts: dict[str, int] | None = None,
    ):
        plan = plan_of(df)
        for frag in must_contain:
            if frag not in plan:
                failures.append((name, f"missing `{frag}`"))
                print(f"FAIL {name}: missing `{frag}`")
                return
        for frag in must_not:
            if frag in plan:
                failures.append((name, f"unexpected `{frag}`"))
                print(f"FAIL {name}: unexpected `{frag}`")
                return
        for frag, cap in (max_counts or {}).items():
            n = plan.count(frag)
            if n > cap:
                failures.append((name, f"`{frag}` × {n} > {cap}"))
                print(f"FAIL {name}: `{frag}` × {n} > {cap}")
                return
        print(f"PASS {name}")

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    check(
        "scan_pushdown",
        li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey"),
        ["PushedFilters: [IsNotNull(l_shipdate)", "l_orderkey:bigint,l_shipdate"],
    )
    check(
        "typing_broadcast_join",
        em.q_kg_ioc_typing(spark, sf_dir),
        ["BroadcastHashJoin Inner BuildRight"],
        must_not=["SortMergeJoin"],
    )
    check(
        "endpoint_semijoin_broadcast",
        em.q_kg_endpoint_semijoin(spark, sf_dir),
        ["BroadcastHashJoin LeftSemi BuildRight"],
        must_not=["SortMergeJoin"],
    )
    check(
        "q1_partial_agg",
        em.q_tpch_q1(spark, sf_dir),
        ["HashAggregate"],
        must_not=["SortAggregate"],
    )
    from threat_intelligence_knowledge_graph_spark.operators.chunker import (
        chunk_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("conv_id"), F.col("text").alias("doc_text")
    )
    check(
        "chunker_no_udf_no_shuffle",
        chunk_documents(docs, 100, 10).drop("total_chunks"),
        ["posexplode"],
        must_not=["BatchEvalPython", "ArrowEvalPython", "Exchange"],
    )

    # round 2 shapes -------------------------------------------------------
    from threat_intelligence_knowledge_graph_spark.operators.minhash import (
        lsh_band_keys,
        word_shingles,
    )

    raw_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    band_plan = plan_of(lsh_band_keys(word_shingles(raw_docs, "doc_id", "text")))
    # one distinct (partial+final) + ONE wide min-agg (partial+final); the
    # old seed-join + collect_list path added a third aggregation pair.
    n_aggs = band_plan.count("HashAggregate") + band_plan.count("ObjectHashAggregate")
    if n_aggs <= 4 and "Generate" in band_plan:
        print("PASS minhash_band_keys_single_agg")
    else:
        failures.append(("minhash_band_keys_single_agg", f"aggs={n_aggs}"))
        print(f"FAIL minhash_band_keys_single_agg: aggregate pairs={n_aggs}")

    from threat_intelligence_knowledge_graph_spark.operators.extraction import (
        extract_graph_records_fused,
    )

    from threat_intelligence_knowledge_graph_spark.schemas import TRANSCRIPTS_SCHEMA

    tr = spark.createDataFrame(
        [("c1", 0, "a", "The domain evil.example.net resolves to 10.0.0.1.", None, None)],
        schema=TRANSCRIPTS_SCHEMA,
    )
    fused_plan = plan_of(extract_graph_records_fused(tr, num_partitions=4))
    # formatted mode prints each node in the tree AND a details header
    # "(n) Exchange" — count only the details headers.
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", fused_plan, re.MULTILINE))
    if n_exchanges == 1:
        print("PASS fused_single_exchange")
    else:
        failures.append(("fused_single_exchange", n_exchanges))
        print(f"FAIL fused_single_exchange: exchanges={n_exchanges}")

    # round 3 shapes -------------------------------------------------------
    check(
        # Equi-joins only (keyed shuffles); an unkeyed pair blowup would
        # surface as CartesianProduct/BroadcastNestedLoopJoin. Python
        # must never appear — these are pure Catalyst ops.
        "graph_algos_no_cartesian",
        em.q_graph_triangle_count(spark, sf_dir),
        ["Join"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "EvalPython"],
    )
    check(
        "node_similarity_no_cartesian",
        em.q_graph_node_similarity(spark, sf_dir),
        ["Join"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "EvalPython"],
    )
    check(
        # HyperANF: audit ONE round's UN-checkpointed plan (the
        # _ktruss_round_plan precedent — the operator's checkpointed
        # output plan shows only the final projection, which would make
        # this guard vacuous). The round must be a keyed equi-join
        # (SortMerge or BroadcastHash) + HashAggregate over the packed
        # register arrays — no cartesian, no Python.
        "anf_round_no_cartesian_no_python",
        _anf_round_plan(spark),
        ["Join", "HashAggregate"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "EvalPython"],
    )
    check(
        # link prediction: through-node self-join + degree joins + the
        # adjacency anti-join — ALL keyed equi-joins, no cartesian, no
        # Python anywhere in the plan.
        "link_prediction_no_cartesian",
        em.q_graph_link_prediction(spark, sf_dir),
        ["Join"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "EvalPython"],
    )
    check(
        # k-truss: the per-round wedge self-join is keyed on the shared
        # neighbor and closed by an edge equi-join — never cartesian;
        # the x.id < y.id predicate must ride the keyed join, not force
        # a nested loop.
        # (audited via edge_support — the returned frame is a
        # localCheckpoint scan, so the per-round plan is inspected
        # directly.)
        "ktruss_round_no_cartesian",
        _ktruss_round_plan(em, spark, sf_dir),
        ["Join"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "EvalPython"],
    )
    # round 5 shapes -------------------------------------------------------
    # rcATT store normalization must use the Catalyst py_title/node_id
    # twins, never a per-row Python UDF (the r4 verdict nit).
    from threat_intelligence_knowledge_graph_spark.operators.rcatt import (
        attack_nodes,
        technique_tactic_edges,
    )

    det = spark.createDataFrame(
        [("c1", "T1059", 0.9)], ["conv_id", "code", "confidence"]
    )
    check(
        "rcatt_nodes_no_python_udf",
        attack_nodes(det, "ATT&CK_Technique"),
        ["Project"],
        must_not=["EvalPython", "pythonUDF"],
    )
    check(
        "rcatt_edges_no_python_udf",
        technique_tactic_edges(det, det.select("conv_id", F.lit("TA0002").alias("code"))),
        ["Join"],
        must_not=["EvalPython", "pythonUDF"],
    )
    check(
        # co-occurrence construction: keyed self-equi-join on the
        # context tuple, never an unkeyed pair blowup or Python.
        "cooccurrence_no_cartesian",
        em.q_events_type_cooccurrence(spark, sf_dir),
        ["Join"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "EvalPython"],
    )
    check(
        # LCC: triangle three-way join + degree agg stay keyed equi-
        # joins — a cartesian here is the classic O(V^2) trap.
        # (equi-join flavor — SortMergeJoin vs BroadcastHashJoin — is
        # AQE's call at this SF; the guard is the absence of the
        # non-keyed plans.)
        "graph_lcc_no_cartesian",
        em.q_graph_lcc(spark, sf_dir),
        ["HashAggregate"],
        must_not=["CartesianProduct", "EvalPython", "BroadcastNestedLoopJoin"],
    )
    check(
        # Reciprocity: the mutual test stays a keyed LeftSemi equi-join
        # on the swapped pair — never cartesian. (The final 1-row ×
        # 1-row crossJoin rides a BroadcastNestedLoopJoin by design,
        # build side is one row — same dispensation as BM25's
        # constants.)
        "reciprocity_keyed_semijoin",
        em.q_graph_reciprocity(spark, sf_dir),
        ["LeftSemi"],
        must_not=["CartesianProduct", "EvalPython"],
    )
    check(
        # Assortativity: keyed degree equi-joins + 1-row aggregates
        # (the 1-row×1-row combine broadcasts; a row-explosive
        # cartesian never appears).
        "assortativity_keyed_joins",
        em.q_graph_assortativity(spark, sf_dir),
        ["HashAggregate"],
        must_not=["EvalPython", "CartesianProduct"],
    )
    # 66: sorted-neighborhood pair generation is a keyed equi-join on
    # the rank block (never a cartesian/range join), rank windows are
    # bucket-partitioned (no SinglePartition global window: the plan's
    # Sort nodes are all preceded by a hashpartitioning exchange).
    check(
        "snm_keyed_block_join",
        em.q_er_sorted_neighborhood(spark, sf_dir),
        ["Window"],
        must_not=[
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "EvalPython",
            "Exchange SinglePartition",
        ],
    )
    # 67: schema audit — signature lookup is a broadcast hash join
    # against the <= ~20-row rule expansion; endpoint labeling is keyed
    # equi-joins; no Python, no cartesian.
    check(
        "schema_audit_broadcast_sigs",
        em.q_kg_schema_audit(spark, sf_dir),
        ["BroadcastHashJoin"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "EvalPython"],
    )
    # 69: ER verify — Levenshtein scoring is pure codegen over the
    # blocked candidates (keyed joins only; a per-row Python scorer or
    # an all-pairs join would show here).
    check(
        "er_verify_jvm_only",
        em.q_er_verified_matches(spark, sf_dir),
        ["levenshtein"],
        must_not=["EvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    )
    # 75: transitivity — the audited canonical three-way triangle join
    # (keyed equi-joins only; the only nested-loop joins are the final
    # 1-row × 1-row stat combines), exact-integer wedge aggregate.
    check(
        "transitivity_keyed_joins",
        em.q_graph_transitivity(spark, sf_dir),
        ["HashAggregate"],
        must_not=["CartesianProduct", "EvalPython", "SortAggregate"],
    )
    # 77: rich-club — the ordered window runs over the MERGED DEGREE
    # HISTOGRAM (dimension-sized), never the graph; joins are keyed.
    check(
        "rich_club_histogram_window",
        em.q_graph_rich_club(spark, sf_dir),
        ["Window", "HashAggregate"],
        must_not=["CartesianProduct", "EvalPython"],
    )
    # 78: average neighbor degree — degree agg + one keyed join + one
    # node-keyed sum, all JVM-side.
    check(
        "avg_nbr_deg_keyed_joins",
        em.q_graph_avg_nbr_deg(spark, sf_dir),
        ["HashAggregate"],
        must_not=[
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "EvalPython",
            "SortAggregate",
        ],
    )
    # 83: HLL overlap — the checkpointed sketch means the RAW corpus
    # is scanned at most once in the pair plan (zero parquet scans
    # after the eager checkpoint), and the pair join is a register
    # equi-join, never cartesian.
    plan = plan_of(em.q_hll_user_overlap(spark, sf_dir))
    n_scan = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    if (
        n_scan <= 1
        and "CartesianProduct" not in plan
        and "EvalPython" not in plan
    ):
        print("PASS hll_overlap_single_corpus_scan")
    else:
        failures.append(("hll_overlap_single_corpus_scan", f"scans={n_scan}"))
        print(f"FAIL hll_overlap_single_corpus_scan: scans={n_scan}")
    # 91: Hill tail — two histogram aggregates then a 1-row stat; all
    # hash aggregates, no Python, no cartesian.
    check(
        "hill_tail_histogram_aggs",
        em.q_graph_hill_tail(spark, sf_dir),
        ["HashAggregate"],
        must_not=["CartesianProduct", "EvalPython", "SortAggregate"],
    )
    spark.stop()
    print(f"\n{'OK' if not failures else 'FAILURES: ' + str(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"))
