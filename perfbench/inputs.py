"""Seeded input generators for the pipeline benchmark, plus the truth
samples the output checks compare against.

Run as a script it writes one input set into a cache directory:

    python3 perfbench/inputs.py --workload pages_ckpt --seed 3 --out DIR

DIR then holds ``pages.parquet`` (the pipeline input) and ``truth.json``:

- ``pairs``: a seeded sample of planted truth pairs. A truth pair is two
  docs of the same planted cluster whose bottom-k sketch Jaccard, computed
  with ``reference_semantics.HeapSketch``, is at least tau.
- ``sig_sample``: a seeded sample of docs that survive the exact-duplicate
  collapse (each is the minimum url of its content), with the
  ``HeapSketch`` signature each must have in the committed signature table.
- ``probe_text``: the first few MB of the corpus text, for the single-core
  kernel probe.

The generator runs in its own process so its imports and its wall time
never count toward the benchmark's set-up time.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from pathlib import Path

TAU = 0.8
TRUTH_PAIRS = 300
SIG_SAMPLE = 24
PROBE_BYTES = 2 << 20

# pages_* (FIXTURES.md section 1): 100k pages is the production shape; this
# many keeps one warm run near 6 s on local[4], so a run fits its budget.
PAGES_DOCS = 4000

# dup_heavy shape. Each value and the reason for it:
DUP_HEAVY = {
    # with the cluster size below, the candidate table far exceeds 40,960
    # pairs, past which the verify dispatch no longer trusts the pipeline's
    # url bound and runs a probe job before it picks a strategy; 6000 docs
    # keep one warm run near 10 s on local[4]
    "docs": 6000,
    # large planted clusters: a cluster of c docs gives c(c-1)/2 candidate
    # pairs, so candidates, verify and CC carry the run, not sketching
    "cluster_size": 100,
    # short docs keep the per-doc stages (extract to banding) small next
    # to the pair stages
    "words_min": 40,
    "words_max": 60,
    # each variant gets from one word up to 5% of its words substituted:
    # in-cluster pairs land on both sides of tau, so CC still sees dense
    # clusters while verify rejects the pairs just below the threshold
    "max_sub_frac": 0.05,
    # a 100-word footer, twice the body, on 35% of docs (pages_* put 150
    # words on 10% of much longer docs): footer docs of different clusters
    # reach Jaccard near 0.5, so most candidates are cross-cluster pairs
    # that verification rejects, as with templated crawl pages
    "boiler_frac": 0.35,
    "boiler_words": 100,
    # the pages corpus's vocabulary size
    "vocab": 5000,
}


def _sketch_cfg():
    from mashing_pumpkins_spark.config import SketchConfig

    return SketchConfig(nsize=21, maxsize=256, hash_name="xxh64", seed=0)


def _dup_heavy_pages(n_docs: int, seed: int):
    """(pages frame with url/text, planted cluster id per row)."""
    import pandas as pd

    from mashing_pumpkins_spark.hashkernels import xxh64

    p = DUP_HEAVY
    rng = random.Random(seed)
    vocab = [f"v{i}" for i in range(p["vocab"] // 2)] + [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))
        for _ in range(p["vocab"] - p["vocab"] // 2)
    ]
    boiler = " ".join(rng.choice(vocab) for _ in range(p["boiler_words"]))
    texts, clusters = [], []
    cluster = 0
    while len(texts) < n_docs:
        base = [rng.choice(vocab) for _ in range(rng.randint(p["words_min"], p["words_max"]))]
        for member in range(p["cluster_size"]):
            if len(texts) >= n_docs:
                break
            words = list(base)
            if member:
                # at least one substitution: byte-identical copies would
                # leave in the exact-duplicate collapse, not the pair stages
                for _ in range(max(1, int(len(words) * rng.random() * p["max_sub_frac"]))):
                    words[rng.randrange(len(words))] = rng.choice(vocab)
            text = " ".join(words)
            if rng.random() < p["boiler_frac"]:
                text += " " + boiler
            texts.append(text)
            clusters.append(cluster)
        cluster += 1
    urls = [
        f"https://dup{i % 50:02d}.example/{xxh64(f'dup-{seed}-{i}'.encode()):016x}"
        for i in range(n_docs)
    ]
    return pd.DataFrame({"url": urls, "text": texts}), clusters


def _truth(urls: list[str], texts: list[str], clusters: list[int], seed: int) -> dict:
    """Seeded truth-pair and signature samples (see module docstring)."""
    from mashing_pumpkins_spark.reference_semantics import HeapSketch

    cfg = _sketch_cfg()
    rng = random.Random(seed * 7919 + 1)
    sketches: dict[int, frozenset] = {}

    def sketch(i: int) -> frozenset:
        if i not in sketches:
            sketches[i] = HeapSketch(cfg).add(texts[i].encode("utf-8")).freeze()
        return sketches[i]

    members: dict[int, list[int]] = {}
    for i, c in enumerate(clusters):
        members.setdefault(c, []).append(i)
    multi = [m for m in members.values() if len(m) > 1]
    rng.shuffle(multi)
    pairs: list[list[str]] = []
    for group in multi:
        if len(pairs) >= TRUTH_PAIRS:
            break
        a, b = rng.sample(group, 2)
        sa, sb = sketch(a), sketch(b)
        if sa and sb and len(sa & sb) / len(sa | sb) >= TAU:
            pairs.append([urls[a], urls[b]])

    rep_of: dict[str, str] = {}
    for u, t in zip(urls, texts):
        if t not in rep_of or u < rep_of[t]:
            rep_of[t] = u
    reps = sorted(i for i, (u, t) in enumerate(zip(urls, texts)) if rep_of[t] == u)
    sig_sample = []
    for i in rng.sample(reps, min(SIG_SAMPLE, len(reps))):
        sig_sample.append(
            {
                "url": urls[i],
                "text": texts[i],
                "sig": HeapSketch(cfg).add(texts[i].encode("utf-8")).sorted_values(),
            }
        )

    probe, size = [], 0
    for t in texts:
        if size >= PROBE_BYTES:
            break
        probe.append(t)
        size += len(t.encode("utf-8"))
    return {"pairs": pairs, "sig_sample": sig_sample, "probe_text": probe}


def generate(workload: str, seed: int, out: Path, n_docs: int | None) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    out.mkdir(parents=True, exist_ok=True)
    if workload in ("pages_ckpt", "pages_flow"):
        from mashing_pumpkins_spark.sources.synthetic import write_pages_parquet

        pages_path, oracle_path = write_pages_parquet(str(out), n_docs or PAGES_DOCS, seed)
        pages = pq.read_table(pages_path, columns=["url", "text"]).to_pydict()
        planted = pq.read_table(oracle_path).to_pydict()
        oracle = dict(zip(planted["url"], planted["oracle_cluster_id"]))
        urls, texts = pages["url"], pages["text"]
        clusters = [int(oracle[u]) for u in urls]
        os.remove(oracle_path)
    elif workload == "dup_heavy":
        frame, clusters = _dup_heavy_pages(n_docs or DUP_HEAVY["docs"], seed)
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), out / "pages.parquet")
        urls, texts = list(frame["url"]), list(frame["text"])
    else:
        raise ValueError(f"unknown workload {workload!r}")
    (out / "truth.json").write_text(json.dumps(_truth(urls, texts, clusters, seed)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--docs", type=int, default=None)
    args = ap.parse_args()
    t0 = time.monotonic()
    generate(args.workload, args.seed, Path(args.out), args.docs)
    print(f"generated {args.workload} seed={args.seed} in {time.monotonic() - t0:.2f}s", file=sys.stderr)


if __name__ == "__main__":
    main()
