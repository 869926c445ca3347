"""Seeded inputs and reference answers for the benchmark.

Inputs are generated driver-side with ``datagen.gen_conversation`` (the
same per-conversation generator the Spark ``generate_transcripts_df``
uses) and written as parquet with pyarrow, so setting up an input costs
no Spark job. Reference answers come from the single-process oracle
(``oracle.reference_oracle``) and from plain-Python restatements of each
graph query over the oracle's graph, so no check reads back the
pipeline's own output as its reference.
"""

from __future__ import annotations

import os
import random
from collections import Counter, defaultdict
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from threat_intelligence_knowledge_graph_spark.datagen import (
    HOT_CVES,
    HOT_DOMAINS,
    gen_conversation,
)
from threat_intelligence_knowledge_graph_spark.operators.reassembly import TURN_SEPARATOR
from threat_intelligence_knowledge_graph_spark.oracle.reference_oracle import (
    oracle_extract_corpus,
)

_ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def write_corpus(path: str, conv_idxs: list[int], seed: int, n_files: int) -> dict:
    """Write the conversations ``conv_idxs`` as ``n_files`` parquet files
    of whole conversations; returns {docs, turns, bytes}.

    ``docs`` is ``[(conv_id, text)]`` in conv order: turns sorted by
    ``turn_idx`` and joined by the reassembly separator, the document the
    pipeline's fused kernel rebuilds."""
    os.makedirs(path, exist_ok=True)
    convs = [gen_conversation(i, seed) for i in conv_idxs]
    per_file = max(1, -(-len(convs) // n_files))
    for f, lo in enumerate(range(0, len(convs), per_file)):
        rows = [r for conv in convs[lo : lo + per_file] for r in conv]
        cols = {name: [r[name] for r in rows] for name in _ARROW_SCHEMA.names}
        pq.write_table(
            pa.table(cols, schema=_ARROW_SCHEMA),
            os.path.join(path, f"part-{f:05d}.parquet"),
        )
    docs = []
    for conv in convs:
        turns = sorted(conv, key=lambda r: r["turn_idx"])
        docs.append(
            (turns[0]["conv_id"], TURN_SEPARATOR.join(r["text"] or "" for r in turns))
        )
    docs.sort()
    return {
        "docs": docs,
        "turns": sum(len(c) for c in convs),
        "bytes": dir_bytes(path),
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dn, files in os.walk(path)
        for f in files
    )


@dataclass
class GraphState:
    """A warehouse's graph as sets: nodes {(label, id): props}, edges
    {(src_label, src_id, rel, dst_label, dst_id)}, triples {(subj, pred, obj)}."""

    nodes: dict[tuple[str, str], dict[str, str]]
    edges: set[tuple[str, str, str, str, str]]
    triples: set[tuple[str, str, str]]


def oracle_state(docs: list[tuple[str, str]]) -> GraphState:
    """The single-process oracle's graph over ``docs``."""
    nodes, triples, edges = oracle_extract_corpus(docs)
    return GraphState(nodes, {e[1:] for e in edges}, triples)


def diff_tables(spark_tables: dict, ref: GraphState) -> list[str]:
    """Names of the tables whose committed rows differ from ``ref``
    (compared as sorted lists, so a duplicated row is a difference)."""
    want = {
        "nodes": sorted((l, i, tuple(sorted(p.items()))) for (l, i), p in ref.nodes.items()),
        "edges": sorted(ref.edges),
        "triples": sorted(ref.triples),
    }
    return [t for t in want if spark_tables[t] != want[t]]


def collect_tables(spark, catalog) -> dict:
    """The committed graph tables' rows, each table a sorted list."""
    return {
        "nodes": sorted(
            (r.node_label, r.node_id, tuple(sorted((r.properties or {}).items())))
            for r in catalog.read(spark, "nodes").collect()
        ),
        "edges": sorted(
            tuple(r)
            for r in catalog.read(spark, "edges")
            .select("src_label", "src_id", "rel_type", "dst_label", "dst_id")
            .collect()
        ),
        "triples": sorted(
            tuple(r)
            for r in catalog.read(spark, "triples").select("subj", "pred", "obj").collect()
        ),
    }


# -- graph_query mix ---------------------------------------------------------

# One deck of the mix holds every query kind: each analytic kind once, and
# the lookups. The shares are the benchmark's choice, not measured from
# analyst traffic: neighbors, the one kind whose argument is drawn from the
# skewed id distribution, runs several times per deck so that every deck
# draws hot and cold ids alike. Latency is reported per whole deck, so a
# change to any kind moves it.
LOOKUPS_PER_DECK = {"neighbors": 5, "cypher_resolves_to": 1}
ANALYTIC_KINDS = (
    "two_hop",
    "fast_flux_domains",
    "cve_hotlist",
    "flagship_query",
    "degrees",
    "cypher_communicates_with",
)
DECK_SIZE = sum(LOOKUPS_PER_DECK.values()) + len(ANALYTIC_KINDS)

CYPHER_RESOLVES_TO = (
    "MATCH (d:Domain)-[:RESOLVES_TO]->(i:Ipv4) WHERE d.id = '{id}' RETURN i"
)
CYPHER_COMMUNICATES_WITH = (
    "MATCH (m)-[:COMMUNICATES_WITH]->(i) "
    "RETURN i, count(*) AS n ORDER BY n DESC, i LIMIT 20"
)
TWO_HOP_PREDS = ("COMMUNICATES_WITH", "RESOLVES_TO")


def _zipf_picker(rng: random.Random, hot: list[str], ranked: list[str], hot_share: float):
    """Draws a hot id with probability ``hot_share``, else a Zipf(1) draw
    over ``ranked`` (most connected first)."""
    cum, acc = [], 0.0
    for r in range(len(ranked)):
        acc += 1.0 / (r + 1)
        cum.append(acc)

    def pick() -> str:
        if hot and rng.random() < hot_share:
            return rng.choice(hot)
        return rng.choices(ranked, cum_weights=cum)[0]

    return pick


def query_plan(ref: GraphState, seed: int, decks: int) -> list[tuple]:
    """``decks`` shuffled decks of the mix as query specs ``(kind, arg)``.

    ``neighbors`` ids include the hot CVEs and hot domains the generator
    repeats across conversations. The kernel's relation rules pair a
    Vulnerability only with threat-actor or malware entities, which no
    IOC class yields, so CVE nodes carry no triples: those lookups, and
    ``cve_hotlist``, check the empty answer."""
    rng = random.Random(seed * 7919 + 11)
    degree = Counter()
    for s, _p, o in ref.triples:
        degree[s] += 1
        degree[o] += 1
    by_value = {
        p.get("value", "").lower(): node_id for (_l, node_id), p in ref.nodes.items()
    }
    hot_ids = [by_value[v.lower()] for v in HOT_CVES + HOT_DOMAINS if v.lower() in by_value]
    hot_domains = [by_value[v] for v in HOT_DOMAINS if v in by_value]
    ranked = sorted(degree, key=lambda k: (-degree[k], k))
    resolvers = sorted(
        {s for s, p, _o in ref.triples if p == "RESOLVES_TO"},
        key=lambda k: (-degree[k], k),
    )
    pick_node = _zipf_picker(rng, hot_ids, ranked, 0.3)
    pick_domain = _zipf_picker(rng, hot_domains, resolvers, 0.3)
    plan = []
    for _ in range(decks):
        deck = [kind for kind, n in LOOKUPS_PER_DECK.items() for _ in range(n)]
        deck += ANALYTIC_KINDS
        rng.shuffle(deck)
        for kind in deck:
            if kind == "neighbors":
                plan.append((kind, pick_node()))
            elif kind == "cypher_resolves_to":
                plan.append((kind, pick_domain()))
            else:
                plan.append((kind, None))
    return plan


def reference_answers(ref: GraphState, plan: list[tuple]) -> dict:
    """Expected result of every distinct spec in ``plan``, in the form
    ``normalize`` gives a collected result (a list where the query
    orders its rows, a sorted list where it does not)."""
    out_adj: dict[str, list] = defaultdict(list)
    in_adj: dict[str, list] = defaultdict(list)
    by_pred: dict[str, list] = defaultdict(list)
    for t in ref.triples:
        out_adj[t[0]].append(t)
        in_adj[t[2]].append(t)
        by_pred[t[1]].append(t)
    answers: dict[tuple, list] = {}
    for spec in set(plan):
        kind, arg = spec
        if kind == "neighbors":
            ans = list(set(out_adj[arg]) | set(in_adj[arg]))
        elif kind == "cypher_resolves_to":
            ans = [
                (dst,)
                for (sl, src, rel, dl, dst) in ref.edges
                if src == arg and rel == "RESOLVES_TO" and sl == "Domain" and dl == "Ipv4"
            ]
        elif kind == "two_hop":
            p1, p2 = TWO_HOP_PREDS
            ans = [
                (a, p1, b, p2, c)
                for (a, _p, b) in by_pred[p1]
                for (_b, q, c) in out_adj[b]
                if q == p2
            ]
        elif kind == "fast_flux_domains":
            n_ips = Counter(s for s, _p, _o in by_pred["RESOLVES_TO"])
            ans = sorted(
                ((d, n) for d, n in n_ips.items() if n >= 2), key=lambda x: (-x[1], x[0])
            )
        elif kind == "cve_hotlist":
            mentions = Counter()
            for s, _p, o in ref.triples:
                mentions[s] += 1
                mentions[o] += 1
            ans = sorted(
                ((e, n) for e, n in mentions.items() if e.startswith("Vulnerability_")),
                key=lambda x: (-x[1], x[0]),
            )[:10]
        elif kind == "flagship_query":
            ans = sorted(
                t
                for t in ref.triples
                if t[1] in ("COMMUNICATES_WITH", "RESOLVES_TO", "TARGETS")
            )
        elif kind == "degrees":
            outs, ins = Counter(), Counter()
            for s, _p, o in ref.triples:
                outs[s] += 1
                ins[o] += 1
            ans = [
                (k, outs[k], ins[k], outs[k] + ins[k]) for k in set(outs) | set(ins)
            ]
        elif kind == "cypher_communicates_with":
            n = Counter(o for _s, _p, o in by_pred["COMMUNICATES_WITH"])
            ans = sorted(n.items(), key=lambda x: (-x[1], x[0]))[:20]
        else:
            raise ValueError(f"unknown query kind {kind!r}")
        answers[spec] = normalize(kind, ans)
    return answers


ORDERED_KINDS = {
    "fast_flux_domains",
    "cve_hotlist",
    "flagship_query",
    "cypher_communicates_with",
}


def normalize(kind: str, rows) -> list:
    rows = [tuple(r) for r in rows]
    return rows if kind in ORDERED_KINDS else sorted(rows)
