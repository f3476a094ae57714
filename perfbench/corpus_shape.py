#!/usr/bin/env python3
"""Print the shape of a `documents` table, the numbers Data.documents is
set from (see README.md, "Inputs"):

    python3 perfbench/corpus_shape.py <dir>/documents.parquet

Words per document, the vocabulary and its shares, the document
frequencies of 3-word shingles (the dedup miner's postings), and the
near-duplicate pairs at capped-shingle Jaccard >= 0.6 with a document
frequency cap of 100, the group index's own rule. Needs pyarrow.
"""
import collections
import itertools
import statistics
import sys

import pyarrow.parquet as pq

DF_CAP = 100
JACCARD = 0.6


def shingles(words):
    return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}


def main(path):
    rows = pq.read_table(path, columns=["doc_id", "text", "lang"]).to_pylist()
    docs = {r["doc_id"]: r["text"].strip().lower().split() for r in rows}
    lens = [len(w) for w in docs.values()]
    print("documents", len(docs))
    print("words per document: min", min(lens), "quartiles",
          statistics.quantiles(lens, n=4), "max", max(lens))
    wc = collections.Counter(w for ws in docs.values() for w in ws)
    total = sum(wc.values())
    print("vocabulary", len(wc), "shares",
          {w: round(c / total, 4) for w, c in wc.most_common()})
    print("languages", dict(collections.Counter(r["lang"] for r in rows)))

    sh = {d: shingles(ws) for d, ws in docs.items()}
    df = collections.Counter(s for ss in sh.values() for s in ss)
    dfs = sorted(df.values())
    print("distinct shingles", len(df), "postings", sum(dfs),
          "df deciles", statistics.quantiles(dfs, n=10), "max", dfs[-1],
          f"share above {DF_CAP}", sum(x > DF_CAP for x in dfs) / len(dfs))

    capped = {d: {s for s in ss if df[s] <= DF_CAP} for d, ss in sh.items()}
    postings = collections.defaultdict(list)
    for d, ss in capped.items():
        for s in ss:
            postings[s].append(d)
    shared = collections.Counter()
    for ds in postings.values():
        for a, b in itertools.combinations(sorted(ds), 2):
            shared[(a, b)] += 1
    pairs = {}
    for (a, b), n in shared.items():
        j = n / (len(capped[a]) + len(capped[b]) - n)
        if j >= JACCARD:
            pairs[(a, b)] = j
    members = {d for p in pairs for d in p}
    print("candidate pairs", len(shared), f"pairs at Jaccard >= {JACCARD}", len(pairs),
          "documents in a pair", len(members), round(len(members) / len(docs), 4))
    if len(pairs) > 1:
        print("pair Jaccard quartiles",
              [round(x, 3) for x in statistics.quantiles(pairs.values(), n=4)])


if __name__ == "__main__":
    main(sys.argv[1])
