"""The benchmark workloads: inputs, one closed-loop operation, and the
output checks. Both run in one driver process with one client; the next
operation starts only after the previous one returned. They differ only
in how many domains the seeded pages spread over, the lever that moves
work between extraction and entity resolution.

Every workload exposes:

- ``setup(ctx)``: generate inputs from the seed and get ready (warm-up);
  counted in ``setup_s``.
- ``step(ctx) -> (kind, seconds, ok)``: one operation, timed inside
  ``ctx.timed``; ``ok`` is False when its output failed its check.
- ``finish(ctx) -> failed``: end-of-run checks; returns how many
  operations they show to be wrong.
- ``report(ops)``: the workload's named end-to-end figures.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

import gen
from spans import median
from graphiti_spark import corpus
from graphiti_spark.operators.resolve import er_pair_metrics
from graphiti_spark.plans.pipeline import build_graph, triples_view


def _digest(rows) -> str:
    """Order-independent hash of collected rows."""
    lines = sorted(repr(tuple(r)) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def raw_triple_pr(docs, triples_raw_pdf) -> tuple[float, float]:
    """Raw-triple precision/recall against corpus.golden_triples, keyed per
    episode (md5(url|para)) with valid_at, as tests/test_extraction_golden.py."""
    import pandas as pd

    g = corpus.golden_triples(docs)
    ep = [hashlib.md5(f"{u}|{p}".encode()).hexdigest()
          for u, p in zip(g["url"], g["para_idx"])]
    gold = set(zip(ep, g["subj"], g["pred"], g["obj"],
                   pd.to_datetime(g["valid_at"]).astype("datetime64[us]")))
    s = triples_raw_pdf
    got = set(zip(s["episode_uuid"], s["subj_name"], s["pred"], s["obj_name"],
                  pd.to_datetime(s["valid_at"]).astype("datetime64[us]")))
    hit = len(gold & got)
    return hit / max(len(got), 1), hit / max(len(gold), 1)


def er_pr(spark, docs, uuid_map) -> tuple[float, float]:
    """Entity-resolution pair precision/recall (operators.resolve.
    er_pair_metrics) against corpus.golden_mentions base keys."""
    m = corpus.golden_mentions(docs)[["group_id", "name", "base"]].drop_duplicates()
    truth = spark.createDataFrame(m, "group_id string, name string, base string")
    engine = uuid_map.select(
        "group_id", "name", F.col("canon_uuid").alias("cluster")).distinct()
    r = er_pair_metrics(truth, engine).agg(
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn")
    ).collect()[0]
    tp, fp, fn = (int(r[k] or 0) for k in ("tp", "fp", "fn"))
    return tp / max(tp + fp, 1), tp / max(tp + fn, 1)


class EntityHeavyBuild:
    """One-shot ``build_graph`` -> ``triples_view`` over pages spread across
    thousands of Zipf-sized small domains: entity names are scoped per
    domain, so the distinct-entity universe grows with the page count and
    entity resolution is the most exercised layer."""

    name = "entity_heavy_build"
    SIZES = {"full": {"pages": 400, "domains": 4000},
             "tiny": {"pages": 30, "domains": 300}}

    def setup(self, ctx) -> None:
        size = self.SIZES[ctx.size]
        self.docs = gen.documents(ctx.seed, size["pages"], size["domains"])
        self.dir = gen.write_documents(self.docs, os.path.join(ctx.work, "corpus"))
        self.digests: list[str] = []
        self.last = None
        self._build(ctx)  # warm-up: JIT and codegen caches
        ctx.spark.catalog.clearCache()

    def _build(self, ctx):
        """The timed build: it ends when nodes, edges, mention_edges and
        triples_view are all materialized."""
        t = build_graph(ctx.spark, self.dir)
        t.nodes, t.edges  # committed stages: materialized on access
        t.mention_edges.write.format("noop").mode("overwrite").save()
        return t, triples_view(t).collect()

    def step(self, ctx):
        with ctx.timed("build") as tm:
            t, rows = self._build(ctx)
        dt = tm.seconds
        self.digests.append(_digest(rows))
        self.last = (t, rows)
        ctx.spark.catalog.clearCache()
        return "build", dt, len(rows) > 0

    def finish(self, ctx) -> int:
        """Full check of the last build; every other build must equal it."""
        self.raw_triples = 0
        if self.last is None:  # every build raised; all are counted failed
            return 0
        t, rows = self.last
        tr = t.triples_raw.toPandas()
        self.raw_triples = len(tr)
        p, r = raw_triple_pr(self.docs, tr)
        ep, er = er_pr(ctx.spark, self.docs, t.uuid_map)
        n_edges = t.edges.count()
        self.checks = {"raw_triple_precision": p, "raw_triple_recall": r,
                       "er_pair_precision": ep, "er_pair_recall": er}
        good = (p == 1.0 and r == 1.0 and ep == 1.0 and er == 1.0
                and len(rows) == n_edges)
        ref = self.digests[-1]
        return sum(1 for d in self.digests if not good or d != ref)

    def report(self, ops) -> dict:
        lat = [dt for kind, dt, _ in ops]
        p50 = median(lat)
        return {
            "op_p50_s": (p50, "s", len(lat)),
            "work_per_s": (self.raw_triples / p50 if p50 else 0.0, "1/s", len(lat)),
            "build_s": (p50, "s", len(lat)),
            "triples_per_s": (self.raw_triples / p50 if p50 else 0.0, "1/s", len(lat)),
        }


class BulkBuild(EntityHeavyBuild):
    """The same build over few domains with many pages each: the entity
    universe stays small, so resolution is a minority of the build and a
    resolution-only change moves it much less than entity_heavy_build."""

    name = "bulk_build"
    SIZES = {"full": {"pages": 400, "domains": 20},
             "tiny": {"pages": 30, "domains": 3}}


WORKLOADS = {w.name: w for w in (BulkBuild, EntityHeavyBuild)}
