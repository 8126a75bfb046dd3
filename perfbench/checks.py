"""Output checks run after every pipeline run of the benchmark.

A run passes only if all of these hold:

- ``dup_pair_recall`` >= 0.99 over the seeded truth-pair sample;
- every sampled signature equals the ``HeapSketch`` signature bit for bit
  (checkpointed runs read the committed signature table; flow runs, which
  commit nothing, sketch the sampled docs with the same ``sketch_table``);
- the sha256 of the sorted ``(url, cluster_id)`` rows, the cluster count,
  the clustered-url count and, for checkpointed runs, the edge count equal
  those of every other run of the same workload and seed, in this process
  and in earlier processes of the same checkout.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

MIN_RECALL = 0.99
MASK64 = (1 << 64) - 1


class CheckFailed(Exception):
    pass


class OutputChecks:
    def __init__(self, truth: dict, record: Path):
        if not truth["pairs"]:
            raise CheckFailed("the input has no truth pairs to measure recall on")
        self.pairs = truth["pairs"]
        self.sig_sample = {s["url"]: s["sig"] for s in truth["sig_sample"]}
        self.sig_texts = {s["url"]: s["text"] for s in truth["sig_sample"]}
        self.record = record
        self.expected = json.loads(record.read_text()) if record.exists() else None

    def check(self, spark, clusters, cfg, store=None) -> dict:
        rows = sorted((r[0], r[1]) for r in clusters.select("url", "cluster_id").collect())
        label = dict(rows)
        digest = hashlib.sha256("".join(f"{u}\t{c}\n" for u, c in rows).encode()).hexdigest()
        hits = sum(1 for a, b in self.pairs if a in label and label.get(a) == label.get(b))
        recall = hits / len(self.pairs)
        shape = {
            "digest": digest,
            "clusters": len(set(label.values())),
            "clustered_urls": len(rows),
            "edges": _edge_count(store) if store is not None else None,
        }
        if recall < MIN_RECALL:
            raise CheckFailed(f"dup_pair_recall {recall:.4f} < {MIN_RECALL}")
        self._check_signatures(spark, cfg, store)
        if self.expected is None:
            self.expected = shape
            self.record.write_text(json.dumps(shape))
        elif shape != self.expected:
            raise CheckFailed(f"output differs from an earlier run: {shape} vs {self.expected}")
        return {"recall": recall, **shape}

    def _check_signatures(self, spark, cfg, store) -> None:
        from pyspark.sql import functions as F

        urls = list(self.sig_sample)
        if store is not None:
            sigs = store.read(spark, "signatures")
        else:
            from mashing_pumpkins_spark.operators.signature import sketch_table

            docs = spark.createDataFrame(
                [(u, self.sig_texts[u]) for u in urls], "url string, text string"
            )
            sigs = sketch_table(docs, cfg.sketch)
        got = {r[0]: [v & MASK64 for v in r[1]] for r in
               sigs.where(F.col("url").isin(urls)).select("url", "sig").collect()}
        bad = [u for u in urls if got.get(u) != self.sig_sample[u]]
        if bad:
            raise CheckFailed(f"{len(bad)}/{len(urls)} sampled signatures differ from HeapSketch, e.g. {bad[0]}")


def _edge_count(store) -> int:
    """Near-dup edges plus exact-duplicate edges, from the stage manifests:
    the exact stage holds one row per representative plus one per exact
    edge, and every representative gets one signature row."""
    rows = {s: store.manifest(s)["rows"] for s in ("exact", "signatures", "edges")}
    return rows["edges"] + rows["exact"] - rows["signatures"]
