"""verified_edges physical strategies must agree: broadcast-dict (small
slice), two-phase prefix-prefilter join (maxsize > 256), single-phase join
(maxsize <= 256)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from mashing_pumpkins_spark.config import PipelineConfig, SketchConfig
from mashing_pumpkins_spark.operators.signature import sketch_table
from mashing_pumpkins_spark.operators.verify import verified_edges


@pytest.fixture(scope="module")
def docs_and_pairs(spark):
    rng = random.Random(17)
    vocab = [f"tok{i}" for i in range(800)]
    texts = []
    base = [rng.choice(vocab) for _ in range(300)]
    for i in range(30):
        t = list(base)
        for _ in range(rng.randrange(0, 40)):  # 0-13% edits
            t[rng.randrange(len(t))] = rng.choice(vocab)
        texts.append((f"u{i:03d}", " ".join(t)))
    for i in range(30, 60):  # unrelated docs
        texts.append((f"u{i:03d}", " ".join(rng.choice(vocab) for _ in range(300))))
    docs = spark.createDataFrame(texts, "url string, text string")
    pairs = spark.createDataFrame(
        [(f"u{a:03d}", f"u{b:03d}") for a in range(60) for b in range(a + 1, 60)],
        "url_a string, url_b string",
    )
    return docs, pairs


@pytest.mark.parametrize("maxsize", [256, 1000])
def test_broadcast_and_join_paths_agree(spark, docs_and_pairs, maxsize):
    docs, pairs = docs_and_pairs
    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=maxsize, hash_name="xxh64", seed=0),
        jaccard_threshold=0.5,
    )
    sigs = sketch_table(docs, cfg.sketch)
    via_bcast = verified_edges(pairs, sigs, cfg, broadcast_cap_bytes=1 << 40)
    via_join = verified_edges(pairs, sigs, cfg, broadcast_cap_bytes=0)
    b = sorted((r["url_a"], r["url_b"], round(r["jaccard"], 9)) for r in via_bcast.collect())
    j = sorted((r["url_a"], r["url_b"], round(r["jaccard"], 9)) for r in via_join.collect())
    assert b == j
    assert len(b) > 5  # fixture actually plants verifiable pairs
    assert all(x[2] >= 0.5 for x in b)


def test_prefilter_k_knob_same_edges(spark, docs_and_pairs):
    """The configurable prefilter width must not change the final edge set —
    phase 1 is only ever a superset filter; wider K only tightens the
    false-drop tail."""
    docs, pairs = docs_and_pairs
    cfg128 = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=1000, hash_name="xxh64", seed=0),
        jaccard_threshold=0.7,
        prefilter_k=128,
    )
    cfg64 = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=1000, hash_name="xxh64", seed=0),
        jaccard_threshold=0.7,
        prefilter_k=64,
    )
    sigs = sketch_table(docs, cfg128.sketch)
    got128 = {
        (r["url_a"], r["url_b"], r["jaccard"])
        for r in verified_edges(pairs, sigs, cfg128, broadcast_cap_bytes=0).collect()
    }
    got64 = {
        (r["url_a"], r["url_b"], r["jaccard"])
        for r in verified_edges(pairs, sigs, cfg64, broadcast_cap_bytes=0).collect()
    }
    assert got128 == got64 and len(got64) > 0


@pytest.mark.parametrize("maxsize", [256, 1000])
def test_forced_join_path_plans_no_broadcast_hash_join(spark, docs_and_pairs, maxsize):
    """The join path runs only when the candidate slice is too big to
    broadcast, so every signature join stays sort-merge even when a side's
    size estimate reads small (both inputs here are tiny)."""
    docs, pairs = docs_and_pairs
    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=maxsize, hash_name="xxh64", seed=0),
        jaccard_threshold=0.5,
    )
    edges = verified_edges(pairs, sketch_table(docs, cfg.sketch), cfg, broadcast_cap_bytes=0)
    edges.collect()
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_broadcast_path_rescores_unsorted_rows_exactly(spark):
    """Rows the C sorted-merge cannot score (here every fourth signature is
    stored descending) are re-scored with numpy: the broadcast path's
    edges equal plain set Jaccard."""
    rng = random.Random(29)
    base = sorted(rng.sample(range(1, 10**6), 200))
    sig_rows = []
    for i in range(40):
        s = list(base)
        for _ in range(rng.randrange(0, 30)):
            s[rng.randrange(len(s))] = rng.randrange(10**6, 2 * 10**6)
        s = sorted(set(s))
        sig_rows.append((f"u{i:02d}", s[::-1] if i % 4 == 0 else s))
    sigs = spark.createDataFrame(sig_rows, "url string, sig array<bigint>")
    pairs = spark.createDataFrame(
        [(f"u{a:02d}", f"u{b:02d}") for a in range(40) for b in range(a + 1, 40)],
        "url_a string, url_b string",
    )
    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=256, hash_name="xxh64", seed=0),
        jaccard_threshold=0.7,
    )
    sets = {u: set(s) for u, s in sig_rows}
    want = {}
    for a in range(40):
        for b in range(a + 1, 40):
            sa, sb = sets[f"u{a:02d}"], sets[f"u{b:02d}"]
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.7:
                want[(f"u{a:02d}", f"u{b:02d}")] = j
    got = {
        (r["url_a"], r["url_b"]): r["jaccard"]
        for r in verified_edges(pairs, sigs, cfg, broadcast_cap_bytes=1 << 40).collect()
    }
    assert got.keys() == want.keys()
    assert any(a in ("u00", "u04", "u08") for a, _ in got)  # unsorted rows score
    assert all(abs(got[k] - want[k]) < 1e-9 for k in want)


def test_dup_heavy_pipeline_broadcasts_without_a_probe_job(spark, tmp_path, monkeypatch):
    """Four 30-doc near-duplicate clusters under a 1 MB broadcast cap: the
    2 x candidate-rows url bound alone fails the cap and would buy a
    probe count, but every candidate url is a signature url, so the
    signature-rows bound picks the broadcast path with no count job. The
    edges equal the join path's."""
    from functools import partial

    from mashing_pumpkins_spark.operators import verify
    from mashing_pumpkins_spark.plans import pipeline
    from mashing_pumpkins_spark.plans.checkpoint import ParquetCheckpointStore

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(2000)]
    rows = []
    for c in range(4):
        base = [rng.choice(vocab) for _ in range(60)]
        for i in range(30):
            t = list(base)
            t[rng.randrange(len(t))] = rng.choice(vocab)
            rows.append((f"c{c}-{i:02d}", " ".join(t)))
    pages = spark.createDataFrame(rows, "url string, text string")
    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=256, hash_name="xxh64", seed=0),
        n_bands=32,
        rows_per_band=8,
        jaccard_threshold=0.8,
    )
    cap = 1 << 20
    monkeypatch.setattr(
        pipeline, "verified_edges", partial(verify.verified_edges, broadcast_cap_bytes=cap)
    )
    chosen, counts = [], []
    broadcast_verify = verify._broadcast_verify
    monkeypatch.setattr(
        verify,
        "_broadcast_verify",
        lambda *a, **k: chosen.append(1) or broadcast_verify(*a, **k),
    )
    count = type(pages).count
    monkeypatch.setattr(type(pages), "count", lambda self: counts.append(1) or count(self))

    store = ParquetCheckpointStore(str(tmp_path), cfg.config_hash())
    _, report = pipeline.run_pipeline(spark, pages, cfg, store=store)
    n = {s.name: s.rows for s in report.stages}
    assert 2 * n["candidates"] * cfg.sketch.maxsize * 8 > cap  # probe branch is live
    assert chosen == [1] and counts == []

    edges = lambda df: sorted(  # noqa: E731
        (r["url_a"], r["url_b"], round(r["jaccard"], 9)) for r in df.collect()
    )
    via_join = verified_edges(
        store.read(spark, "candidates"), store.read(spark, "signatures"), cfg,
        broadcast_cap_bytes=0,
    )
    got = edges(store.read(spark, "edges"))
    assert got == edges(via_join)
    assert len(got) > 100
