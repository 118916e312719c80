"""Build the synthetic 10x probe corpus for the scale slope (VERDICT r11
next-round #1).

The 100 TB story was previously argued from plan shapes and state-bound
proofs at one scale; the slope measures it. This tool only WRITES the probe
corpus; the measurement is bench.py's own protocol, run once per scale:

    python tools/scale_probe.py /tmp/scale/f1 --factor 1
    python tools/scale_probe.py /tmp/scale/f10 --factor 10
    for d in f1 f10; do
        SPARK_GRAFT_SF_DIR=/tmp/scale/$d python bench.py \
            --only streaming_dedup_minhash_ttl,streaming_events_funnel_ttl,... \
            > /tmp/scale/$d.json
    done

Each summary carries the per-entry wall (``queries``), micro-batch count
(``triggers``) and peak keyed-state rows (``state.<entry>.peak_rows``), so
the slope is the f10/f1 ratio of each. "Scales" means: wall grows at most
~linearly in input rows (streaming replays keep the same trigger count, so
their per-trigger data grows 10x), and streaming state stays at the
live-window size, not the key-domain history. bench.py materializes every
shared corpus cache at both scales, as it does in a full run.

10x corpus construction (preserves dup-rate and skew — naive replication
would give every document 10 exact copies and inflate the near-dup pair
count quadratically):

- ``documents``: 10 shards; shard k suffixes every ``[a-z0-9]+`` token with
  ``q{k}x`` and offsets doc_id. Within a shard the dup/shingle structure is
  byte-identical to the original (pairs scale linearly); across shards every
  shingle differs (zero cross-shard near-dups, like independent data).
- ``embeddings``: GENERATED at both scales from one parametric model
  (256-dim, planted dup groups of 2-4 members at cos ~0.85, random
  singletons) instead of replicating the fixture. The fixture cannot be
  10x-replicated faithfully: its dup structure lives at the 64-dim random
  -cosine noise floor (920 pairs at the ops' 0.4 threshold but only 14 at
  0.5, and ANY orthogonal shard transform leaves a cross-shard tail up to
  ~0.75), so a 10x corpus would drown the planted pairs in ~90k random
  collisions and connected components would merge everything — a
  degenerate workload that measures nothing. At 256 dims the noise floor
  is cos ~0.25 for this corpus size, the 0.4 threshold separates exactly,
  and the dup-rate per row is scale-invariant by construction. The SMALL
  side uses the same generator at factor 1, so the slope compares like
  with like.
- ``events``: shard k offsets user_id and event_id; timestamps keep the
  original span, so the event-time window is unchanged and the keyed-state
  domain (users) grows 10x — exactly the axis the TTL'd operators must
  bound.
- every other table is hard-linked from the source dir unchanged.

Because the embedding table is generated on both sides, the slope is
measured between a factor-1 probe dir (hardlinked fixture tables +
generated embeddings) and the factor-N dir, never against the fixture.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

EMB_DIM = 256  # above the noise floor for this corpus size (see docstring)
EMB_GROUP_P = 0.10  # probability a new row starts a dup group
EMB_NOISE = 0.4  # member = center + EMB_NOISE*gauss → member cos ~0.86


def gen_embeddings(n: int, seed: int):
    """Scale-invariant embedding corpus: planted dup groups (2-4 members,
    cos ~0.86 between members) among random singletons; dup-rate per row is
    constant in n, and at 256 dims the cross-group cosine tail stays far
    below the ops' 0.4 threshold at any probed scale."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(seed)
    vecs = np.empty((n, EMB_DIM), dtype=np.float32)
    labels = np.empty(n, dtype=np.int32)
    vid = 0
    group = 0
    while vid < n:
        # the FIRST allocation is always a max-size dup group: the ANN ops'
        # fixed query batch is vec_id < TOPK_QUERY_IDS, and recall against
        # the brute-force twin is only meaningful on CONTRASTED pairs (true
        # sim ≥ the dedup threshold) — without this the queries can all be
        # noise-floor singletons and recall measures nothing (one forced
        # group among n leaves the dup-rate scale-invariance intact)
        if vid == 0 and n >= 4:
            c = rng.randn(EMB_DIM)
            c /= np.linalg.norm(c)
            for _ in range(4):
                v = c + EMB_NOISE * rng.randn(EMB_DIM) / np.sqrt(EMB_DIM)
                vecs[vid] = (v / np.linalg.norm(v)) * rng.uniform(0.8, 1.2)
                labels[vid] = group
                vid += 1
            group += 1
            continue
        if rng.rand() < EMB_GROUP_P and n - vid >= 2:
            size = min(int(rng.randint(2, 5)), n - vid)
            c = rng.randn(EMB_DIM)
            c /= np.linalg.norm(c)
            for _ in range(size):
                v = c + EMB_NOISE * rng.randn(EMB_DIM) / np.sqrt(EMB_DIM)
                vecs[vid] = (v / np.linalg.norm(v)) * rng.uniform(0.8, 1.2)
                labels[vid] = group
                vid += 1
        else:
            v = rng.randn(EMB_DIM)
            vecs[vid] = (v / np.linalg.norm(v)) * rng.uniform(0.8, 1.2)
            labels[vid] = group
            vid += 1
        group += 1
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels,
        }
    )


def build_probe_corpus(small: str, out: str, factor: int) -> dict:
    """Materialize the factor-x probe corpus at ``out`` (idempotent via a
    manifest). factor=1 keeps documents/events hardlinked to the fixture;
    embeddings are generated at every factor (see module docstring).
    Returns {table: rows} for the scaled tables."""
    import pandas as pd
    import pyarrow.parquet as pq

    manifest_path = os.path.join(out, "_scale_manifest.json")
    want = {"source": os.path.abspath(small), "factor": factor, "v": 4}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            if json.load(f) == want:
                with open(os.path.join(out, "_scale_rows.json")) as f:
                    return json.load(f)
        shutil.rmtree(out)
    os.makedirs(out, exist_ok=True)
    for name in os.listdir(small):
        if not name.endswith(".parquet"):
            continue
        dst = os.path.join(out, name)
        if not os.path.exists(dst):
            os.link(os.path.join(small, name), dst)

    rows = {}

    n_emb = pq.read_metadata(os.path.join(small, "embeddings.parquet")).num_rows
    emb = gen_embeddings(n_emb * factor, seed=20_260_816)
    os.unlink(os.path.join(out, "embeddings.parquet"))
    emb.to_parquet(os.path.join(out, "embeddings.parquet"), index=False)
    rows["embeddings"] = len(emb)

    if factor > 1:
        docs = pq.read_table(os.path.join(small, "documents.parquet")).to_pandas()
        base = int(docs["doc_id"].max() + 1)
        shards = []
        for k in range(factor):
            d = docs.copy()
            d["doc_id"] = d["doc_id"] + k * base
            if k:
                # suffix every token: shard-local shingles/vocab, zero
                # cross-shard overlap; lengths drift slightly (n_chars is
                # kept — it describes the original, and no probed op
                # cross-checks it)
                d["text"] = d["text"].str.replace(
                    r"([A-Za-z0-9]+)", rf"\g<1>q{k}x", regex=True
                )
            shards.append(d)
        big_docs = pd.concat(shards, ignore_index=True)
        os.unlink(os.path.join(out, "documents.parquet"))
        big_docs.to_parquet(os.path.join(out, "documents.parquet"), index=False)
        rows["documents"] = len(big_docs)

        ev = pq.read_table(os.path.join(small, "events.parquet")).to_pandas()
        ubase = int(ev["user_id"].max() + 1)
        ebase = int(ev["event_id"].max() + 1)
        shards = []
        for k in range(factor):
            e = ev.copy()
            e["user_id"] = e["user_id"] + k * ubase
            e["event_id"] = e["event_id"] + k * ebase
            shards.append(e)
        big_ev = (
            pd.concat(shards, ignore_index=True)
            .sort_values(["ts", "event_id"], kind="stable")
            .reset_index(drop=True)
        )
        os.unlink(os.path.join(out, "events.parquet"))
        big_ev.to_parquet(os.path.join(out, "events.parquet"), index=False)
        rows["events"] = len(big_ev)
    else:
        rows["documents"] = pq.read_metadata(
            os.path.join(small, "documents.parquet")
        ).num_rows
        rows["events"] = pq.read_metadata(
            os.path.join(small, "events.parquet")
        ).num_rows

    with open(os.path.join(out, "_scale_rows.json"), "w") as f:
        json.dump(rows, f)
    with open(manifest_path, "w") as f:
        json.dump(want, f)
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description="Write the scale-probe corpus dir.")
    ap.add_argument("out", help="corpus dir to write (rebuilt unless its manifest matches)")
    ap.add_argument("--small", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()
    print(json.dumps(build_probe_corpus(args.small, args.out, args.factor)))


if __name__ == "__main__":
    main()
