#!/usr/bin/env python3
"""Derive the benchmark's input profile from a generated sf directory.

The benchmark must read nothing outside its own checkout, so it does not
read the sf0.1 parquet files at run time. Instead this script records the
distributions those files follow (column ranges of lineitem, the word
vocabulary, length range, language mix and near-duplicate rate of
documents, the shape of embeddings and how much of their variance
lies between their labels) in a small JSON profile that is
committed next to the benchmark; the seeded generator draws every input
from that profile.

    python3 perfbench/tools/profile_sf.py <sf-dir> > perfbench/data/sf01_profile.json
"""
import json
import sys
from collections import Counter

import numpy as np
import pyarrow.parquet as pq


def main(sf_dir):
    li = pq.read_table(f"{sf_dir}/lineitem.parquet").to_pandas()
    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()

    def rng(c):
        return [float(li[c].min()), float(li[c].max())]

    # share of the embeddings' variance that lies between the label
    # centroids (0: labels carry no direction, 1: every vector is its
    # label's centroid); the generator places its vectors by it
    vecs = np.stack(emb.embedding.to_numpy()).astype(float)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    centred = vecs - vecs.mean(axis=0)
    within = sum(((vecs[emb.label.to_numpy() == l] - vecs[emb.label.to_numpy() == l].mean(axis=0)) ** 2).sum()
                 for l in emb.label.unique())
    label_share = 1.0 - within / (centred ** 2).sum()

    words = Counter(w for t in docs.text for w in t.split())
    marker = "dup"
    lengths = docs.text.str.split().str.len()
    near_dups = int(docs.text.str.endswith(" " + marker).sum())
    profile = {
        "source": sf_dir.rstrip("/").split("/")[-1],
        "lineitem": {
            "rows": int(len(li)),
            "orderkey": rng("l_orderkey"),
            "partkey": rng("l_partkey"),
            "suppkey": rng("l_suppkey"),
            "linenumber": rng("l_linenumber"),
            "quantity": rng("l_quantity"),
            "extendedprice": rng("l_extendedprice"),
            "discount": rng("l_discount"),
            "tax": rng("l_tax"),
            "returnflag": sorted(li.l_returnflag.unique().tolist()),
            "linestatus": sorted(li.l_linestatus.unique().tolist()),
            "shipdate_days": [int(li.l_shipdate.min().value // 86400_000_000_000),
                              int(li.l_shipdate.max().value // 86400_000_000_000)],
        },
        "documents": {
            "rows": int(len(docs)),
            "vocab": sorted(w for w in words if w != marker),
            "near_dup_marker": marker,
            "near_dup_rate": round(near_dups / len(docs), 4),
            "exact_dup_rate": round(float(docs.text.duplicated().sum()) / len(docs), 4),
            "words": [int(lengths.min()), int(lengths.max())],
            "langs": {k: round(v / len(docs), 4)
                      for k, v in sorted(docs.lang.value_counts().items())},
            "sources": int(docs.source.nunique()),
        },
        "embeddings": {
            "rows": int(len(emb)),
            "dim": int(len(emb.embedding.iloc[0])),
            "labels": int(emb.label.nunique()),
            "label_variance_share": round(float(label_share), 4),
        },
    }
    json.dump(profile, sys.stdout, indent=1, sort_keys=True)
    sys.stdout.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
