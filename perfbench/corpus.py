"""Shape of the benchmark's document corpus, beside a reference corpus.

    python3 perfbench/corpus.py [<testdata tier>/documents.parquet ...] > perfbench/results/corpus.json

What the dedup operators cost depends on the frequency shape of the
corpus's features, not on its size alone: ``x_dedup_jaccard_prefix``
(word 3-shingles, Jaccard >= 0.3, AllPairs prefix filter) degenerates
to all-pairs when no shingle is rare.  This prints, for the generated
corpus at the benchmark's size and at sf0.1 and for each reference
file given, the word and shingle frequency shape and what the prefix
filter keeps: candidate pairs as a share of all pairs, and verified
pairs as a share of candidates.  The prefix filter is modelled in
Python with ties broken by shingle text; the program breaks them by
hash, which changes which candidates come up but hardly how many.
"""

from __future__ import annotations

import collections
import itertools
import json
import math
import os
import sys

import numpy as np

SHINGLE_K = 3
THRESHOLD = 0.3


def _shingles(text: str) -> frozenset[str]:
    w = text.split()
    if len(w) < SHINGLE_K:
        return frozenset([" ".join(w)])
    return frozenset(" ".join(w[i : i + SHINGLE_K]) for i in range(len(w) - SHINGLE_K + 1))


def prefix_filter(sets: list[frozenset[str]]) -> dict:
    df = collections.Counter(s for doc in sets for s in doc)
    by_token: dict[str, list[int]] = collections.defaultdict(list)
    for i, doc in enumerate(sets):
        order = sorted(doc, key=lambda s: (df[s], s))
        n = len(order)
        for s in order[: n - math.ceil(THRESHOLD * n) + 1]:
            by_token[s].append(i)
    cand = set()
    for docs in by_token.values():
        cand.update(itertools.combinations(docs, 2))
    verified = 0
    for a, b in cand:
        inter = len(sets[a] & sets[b])
        if inter / (len(sets[a]) + len(sets[b]) - inter) >= THRESHOLD:
            verified += 1
    n = len(sets)
    pairs = n * (n - 1) // 2
    return {
        "candidates": len(cand),
        "candidate_share_of_pairs": len(cand) / pairs,
        "verified": verified,
        "verified_share_of_candidates": verified / len(cand) if cand else None,
    }


def shape(texts: list[str]) -> dict:
    words = collections.Counter(w for t in texts for w in t.split())
    common = [c for w, c in words.most_common() if w != "dup"]
    lengths = np.array([len(t.split()) for t in texts])
    sets = [_shingles(t) for t in texts]
    sdf = np.array(list(collections.Counter(s for doc in sets for s in doc).values()))
    return {
        "docs": len(texts),
        "vocabulary": len(words),
        "word_freq_max_over_min": common[0] / common[-1],
        "words_per_doc_p10_p50_p90": np.percentile(lengths, [10, 50, 90]).tolist(),
        "docs_ending_in_dup": sum(t.endswith(" dup") for t in texts) / len(texts),
        "distinct_shingles": len(sdf),
        "shingle_df_p50_p99_max": [*np.percentile(sdf, [50, 99]).tolist(), int(sdf.max())],
        "prefix_filter": prefix_filter(sets),
    }


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import pyarrow.parquet as pq

    from perfbench.inputs import generate_documents
    from perfbench.workloads import WORKLOADS

    out = {}
    for sf in sorted({0.01, WORKLOADS["dedup_similarity"].sf, 0.1}):
        out[f"generated sf{sf}"] = shape(generate_documents(sf).column("text").to_pylist())
    for path in sys.argv[1:]:
        # labelled by tier directory and file name, e.g. sf0.01/documents.parquet
        out[os.path.join(*path.split(os.sep)[-2:])] = shape(pq.read_table(path, columns=["text"]).column("text").to_pylist())
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
