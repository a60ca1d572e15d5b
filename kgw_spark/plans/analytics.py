"""Analytics over the unified store — the reference's SQL surface
(kgw/_shared/load.py) as Catalyst-planned DataFrame jobs.

A1 scalar counts, A2 count-distinct, A3 ordered type histograms,
A4 schema detection (2-way equi-join + 3-col group-by),
A5 compact schema, A7 neighborhood query.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgw_spark.operators import incore
from kgw_spark.operators.pairs import both_directions, broadcast_within, send


def node_type_counts(nodes: DataFrame) -> DataFrame:
    """A3 for nodes: GROUP BY type ORDER BY count DESC, type ASC
    (kgw/_shared/load.py:15-38)."""
    return (
        nodes.groupBy("type")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("type"))
    )


def edge_type_counts(edges: DataFrame) -> DataFrame:
    """A3 for edges (kgw/_shared/load.py:42-66)."""
    return (
        edges.groupBy("type")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("type"))
    )


def statistics(nodes: DataFrame, edges: DataFrame) -> dict:
    """The statistics.json payload, key order and type-map ordering
    identical to the reference (load.py:69-80: count DESC, type ASC —
    assembled driver-side because JSON object key order is the
    contract, SURVEY §7.4)."""
    ntc = node_type_counts(nodes).collect()
    etc = edge_type_counts(edges).collect()
    return {
        "num_nodes": sum(r["count"] for r in ntc),
        "num_edges": sum(r["count"] for r in etc),
        "num_node_types": len(ntc),
        "num_edge_types": len(etc),
        "node_types": {r["type"]: r["count"] for r in ntc},
        "edge_types": {r["type"]: r["count"] for r in etc},
    }


def write_statistics(nodes: DataFrame, edges: DataFrame, filepath: str) -> dict:
    data = statistics(nodes, edges)
    with open(filepath, "w") as f:
        json.dump(data, f, indent=2)
    return data


def schema_triples(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """A4 (load.py:109-132): (source_type, edge_type, target_type) →
    triple_count. Physical plan: two hash joins, unhinted — Catalyst's
    JoinSelection broadcasts ``nodes`` on both sides while its size
    estimate is under ``spark.sql.autoBroadcastJoinThreshold`` (at
    reference-CKG scale the node table is 14.5M rows and a forced
    broadcast would OOM); past it, AQE picks SMJ/shuffled-hash from
    runtime sizes, so the only guaranteed shuffle is the final 3-column
    aggregation."""
    src = nodes.select(F.col("id").alias("_sid"), F.col("type").alias("source_type"))
    tgt = nodes.select(F.col("id").alias("_tid"), F.col("type").alias("target_type"))
    return (
        edges.join(src, edges["source_id"] == F.col("_sid"))
        .join(tgt, edges["target_id"] == F.col("_tid"))
        .groupBy("source_type", F.col("type").alias("edge_type"), "target_type")
        .agg(F.count(F.lit(1)).alias("triple_count"))
        .orderBy(
            F.desc("triple_count"),
            F.asc("source_type"),
            F.asc("edge_type"),
            F.asc("target_type"),
        )
    )


def compact_schema(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """A5 (load.py:218-241): (source_type, target_type) with COUNT(*)
    and COUNT(DISTINCT edge type). Same join strategy as
    ``schema_triples``."""
    src = nodes.select(F.col("id").alias("_sid"), F.col("type").alias("source_type"))
    tgt = nodes.select(F.col("id").alias("_tid"), F.col("type").alias("target_type"))
    return (
        edges.join(src, edges["source_id"] == F.col("_sid"))
        .join(tgt, edges["target_id"] == F.col("_tid"))
        .groupBy("source_type", "target_type")
        .agg(
            F.count(F.lit(1)).alias("edge_count"),
            F.countDistinct("type").alias("num_edge_types"),
        )
        .orderBy(F.desc("edge_count"), F.asc("source_type"), F.asc("target_type"))
    )


def neighborhood(edges: DataFrame, node_id: str) -> DataFrame:
    """A7 (examples/downstream_analysis.ipynb): the 1-hop neighborhood
    of ``node_id`` — incident edges plus edges among the neighbors.

    Plan discipline (the r3 super-linear fix): ``incident`` and the
    derived neighbor set are hub-degree-bounded, so they are eagerly
    materialized ONCE (``localCheckpoint``) instead of re-deriving the
    full edge union four times; Catalyst cannot estimate a
    filtered/derived set's size, so the neighbor broadcast is gated by
    an explicit count (the checkpoint makes that count free) rather
    than a skipped size hint. Net plan: two scans of ``edges`` (one for
    incident, one for the among semi-joins — both semi-joins broadcast,
    so they fuse into a single pass with no edge shuffle) and one
    key-only distinct over the tiny result."""
    incident = edges.filter(
        (F.col("source_id") == node_id) | (F.col("target_id") == node_id)
    ).localCheckpoint(eager=True)
    neighbors = (
        incident.select(F.col("source_id").alias("nid"))
        .union(incident.select(F.col("target_id").alias("nid")))
        .filter(F.col("nid") != node_id)
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nb = neighbors.count()
    nb = broadcast_within(neighbors, n_nb)
    nb2 = broadcast_within(neighbors.withColumnRenamed("nid", "nid2"), n_nb)
    among = edges.join(nb, edges["source_id"] == F.col("nid"), "left_semi").join(
        nb2, edges["target_id"] == F.col("nid2"), "left_semi"
    )
    # Dedup key: the bare (source, type, target) triple when those are
    # the only columns (narrow codegen'd key), else EVERY column —
    # multi-edges that differ only in properties must both survive
    # (DISTINCT-* semantics, matching the SQL oracle).
    triple = ["source_id", "type", "target_id"]
    dedup_cols = triple if set(edges.columns) == set(triple) else edges.columns
    return incident.union(among).dropDuplicates(dedup_cols)


_SCHEMA_VIZ_JS = """
const data = JSON.parse(document.getElementById('schema-data').textContent);
const svg = document.getElementById('viz');
const W = svg.clientWidth || 900, H = 560;
const types = data.node_types.map(t => t.type);
const counts = Object.fromEntries(data.node_types.map(t => [t.type, t.count]));
const N = types.map((t, i) => ({
  id: t, x: W/2 + (W/3)*Math.cos(2*Math.PI*i/types.length),
  y: H/2 + (H/3)*Math.sin(2*Math.PI*i/types.length), vx: 0, vy: 0,
  r: 10 + 8*Math.sqrt((counts[t]||1)) / Math.sqrt(Math.max(...Object.values(counts)))
}));
const idx = Object.fromEntries(N.map((n, i) => [n.id, i]));
const L = data.schema.map(e => ({s: idx[e.source_type], t: idx[e.target_type],
                                 label: e.edge_type, w: e.triple_count}));
function tick() {  // plain spring/charge layout, no libraries
  for (let a = 0; a < N.length; a++) for (let b = a+1; b < N.length; b++) {
    const dx = N[b].x-N[a].x, dy = N[b].y-N[a].y,
          d2 = Math.max(dx*dx+dy*dy, 100), f = 24000/d2,
          d = Math.sqrt(d2);
    N[a].vx -= f*dx/d; N[a].vy -= f*dy/d; N[b].vx += f*dx/d; N[b].vy += f*dy/d;
  }
  for (const l of L) { if (l.s === l.t) continue;
    const a = N[l.s], b = N[l.t], dx = b.x-a.x, dy = b.y-a.y,
          d = Math.sqrt(dx*dx+dy*dy)||1, f = (d-180)*0.02;
    a.vx += f*dx/d; a.vy += f*dy/d; b.vx -= f*dx/d; b.vy -= f*dy/d;
  }
  for (const n of N) {
    if (n === drag.node) continue;
    n.vx *= 0.85; n.vy *= 0.85; n.x += n.vx; n.y += n.vy;
    n.x = Math.min(Math.max(n.x, 40), W-40); n.y = Math.min(Math.max(n.y, 30), H-30);
  }
  render();
}
function esc(s) { return String(s).replace(/&/g,'&amp;').replace(/</g,'&lt;'); }
function render() {
  let out = '';
  for (const l of L) {
    const a = N[l.s], b = N[l.t];
    out += `<line x1="${a.x}" y1="${a.y}" x2="${b.x}" y2="${b.y}"
            stroke="#8a8a8a" stroke-width="${1+Math.log1p(l.w)/2}" opacity="0.55">
            <title>${esc(l.label)}: ${l.w}</title></line>`;
  }
  for (const l of L) {
    const a = N[l.s], b = N[l.t];
    out += `<text x="${(a.x+b.x)/2}" y="${(a.y+b.y)/2 - 3}" font-size="9"
            fill="#555" text-anchor="middle">${esc(l.label)}</text>`;
  }
  for (const n of N) {
    out += `<circle cx="${n.x}" cy="${n.y}" r="${n.r}" fill="#4a7fb5"
            stroke="#1d4e79" data-id="${esc(n.id)}">
            <title>${esc(n.id)}: ${counts[n.id]||0} nodes</title></circle>
            <text x="${n.x}" y="${n.y - n.r - 4}" font-size="11"
            text-anchor="middle">${esc(n.id)}</text>`;
  }
  svg.innerHTML = out;
}
const drag = {node: null};
svg.addEventListener('mousedown', e => {
  if (e.target.tagName === 'circle')
    drag.node = N[idx[e.target.getAttribute('data-id')]];
});
svg.addEventListener('mousemove', e => {
  if (drag.node) { const r = svg.getBoundingClientRect();
    drag.node.x = e.clientX - r.left; drag.node.y = e.clientY - r.top; }
});
window.addEventListener('mouseup', () => drag.node = null);
for (let i = 0; i < 120; i++) tick();
setInterval(tick, 40);
"""


def k_hop(pairs: DataFrame, node_id: str, k: int) -> DataFrame:
    """BFS distances ≤ k from ``node_id`` over the undirected simple
    graph given by the canonical pair list ``pairs``
    (``pairs.canonical_pairs``): ``(id, hop)`` with hop = shortest
    undirected distance. Iterative frontier expansion — per level, one
    ``pairs.send`` of the frontier over ``both_directions(pairs)``.

    Below the driver budget (``incore.k_hop``) the pair list is
    collected once and the BFS runs over boolean frontier masks on the
    driver — one collect, at most 2 Spark jobs, for any ``k``.

    Past the gate, plan discipline: every level scans the
    caller-materialized pair list; ``send`` broadcasts the frontier
    while its count fits ``pairs.BCAST_MAX_IDS`` — that count is already
    known from the previous level's emptiness check, so no level ever
    shuffles the pair list while the frontier is small — and only the
    per-level frontier is checkpointed (the visited set is a cheap union
    of those ≤k tiny checkpointed frames, not re-checkpointed every
    round).
    """
    out = incore.k_hop(pairs, node_id, k)
    if out is not None:
        return out
    spark = pairs.sparkSession
    from kgw_spark.session import local_df

    t = pairs.schema["u"].dataType.simpleString()
    seed = local_df(spark, [(node_id, 0)], f"id {t}, hop int")
    arcs = both_directions(pairs)
    frames = [seed]
    frontier, frontier_n = seed, 1
    for hop in range(1, k + 1):
        visited = frames[0]
        for fr in frames[1:]:
            visited = visited.union(fr)
        nxt = (
            send(arcs, frontier.select("id"), frontier_n)
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .withColumn("hop", F.lit(hop))
            .localCheckpoint(eager=True)
        )
        frontier_n = nxt.count()
        if frontier_n == 0:
            break
        frames.append(nxt)
        frontier = nxt
    out = frames[0]
    for fr in frames[1:]:
        out = out.union(fr)
    return out


def schema_html(nodes: DataFrame, edges: DataFrame, filepath: str) -> None:
    """A6 (load.py:134-184): interactive schema visualization. The
    reference renders a gravis/d3 HTML of the *schema* graph (tiny —
    one node per type; gravis is unavailable here). This emits a fully
    self-contained page: the schema JSON payload, a sortable fallback
    table, and an interactive SVG force layout (drag nodes, hover for
    edge types and counts) in ~70 lines of inline vanilla JS — no
    external assets, same artifact contract."""
    rows = [r.asDict() for r in schema_triples(nodes, edges).collect()]
    types = [r.asDict() for r in node_type_counts(nodes).collect()]
    payload = json.dumps({"node_types": types, "schema": rows}, indent=1)
    html = (
        "<!DOCTYPE html><html><head><meta charset='utf-8'>"
        "<title>KG schema</title><style>body{font-family:sans-serif;margin:16px}"
        "svg{border:1px solid #ccc;background:#fafafa;width:100%;height:560px}"
        "table{border-collapse:collapse;margin-top:12px}"
        "td,th{border:1px solid #bbb;padding:2px 8px;font-size:13px}</style>"
        "</head><body><h1>Knowledge-graph schema</h1>"
        "<svg id='viz'></svg>"
        "<table><tr><th>source_type</th><th>edge_type</th>"
        "<th>target_type</th><th>triple_count</th></tr>"
        + "".join(
            f"<tr><td>{r['source_type']}</td><td>{r['edge_type']}</td>"
            f"<td>{r['target_type']}</td><td>{r['triple_count']}</td></tr>"
            for r in rows
        )
        + "</table><script type='application/json' id='schema-data'>"
        + payload
        + "</script><script>"
        + _SCHEMA_VIZ_JS
        + "</script></body></html>"
    )
    with open(filepath, "w") as f:
        f.write(html)
