"""Regenerate a 10x-scale measurement dataset (sf1.0 stand-in).

The driver ships deterministic testdata at sf0.001/0.01/0.1 only; round-7
at-scale measurements need a ~10x input.  This script synthesizes
/root/sfbig/sf1.0 from the sf0.1 empirical distributions:

- documents: 50k NEW docs drawn from the same 30-word shared vocabulary,
  uniform length 10..100 words, source = src{doc_id % 20}, lang sampled at
  the sf0.1 frequencies, 5% of docs carrying one 'dup' token — shared vocab
  means gram document-frequency grows 10x like a real 10x corpus would
  (the pair-fanout regime the dedup tier must survive), while the planted
  duplicate schemes (%37 / %50 doc_id filters) scale linearly.
- embeddings: 20k fresh unit-norm random 64-dim vectors, labels uniform
  over 10 (sf0.1 has no cluster signal: label-mean norms match the
  1/sqrt(n) null).
- events: the sf0.1 table replicated 10x with per-replica event_id and
  user_id offsets, so per-user group sizes stay identical and scaling is
  linear.

Deterministic (seed=4242).  Output is measurement-only scratch — never an
oracle input; correctness stays pinned to the driver's sf0.001/0.01 data.

    python scripts/gen_sf_big.py [outdir=/root/sfbig/sf1.0]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.150, 0.149, 0.148, 0.141]


def gen_documents(rng: np.random.RandomState, n: int) -> pd.DataFrame:
    lens = rng.randint(10, 101, size=n)
    words = rng.randint(0, len(VOCAB), size=int(lens.sum()))
    voc = np.asarray(VOCAB, dtype=object)
    texts = []
    pos = 0
    has_dup = rng.rand(n) < 0.05
    for i in range(n):
        w = voc[words[pos : pos + lens[i]]]
        pos += lens[i]
        if has_dup[i]:
            w = w.copy()
            w[rng.randint(0, lens[i])] = "dup"
        texts.append(" ".join(w))
    lang = np.asarray(LANGS, dtype=object)[
        rng.choice(len(LANGS), size=n, p=LANG_P)
    ]
    doc_id = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": lang,
            "source": np.char.add("src", (doc_id % 20).astype(str)).astype(
                object
            ),
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )


def gen_embeddings(rng: np.random.RandomState, n: int) -> pd.DataFrame:
    v = rng.randn(n, 64).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(v),
            "label": rng.randint(0, 10, size=n).astype(np.int32),
        }
    )


def replicate(name: str, reps: int, offsets: dict[str, int]) -> pd.DataFrame:
    base = pq.read_table(f"{SRC}/{name}.parquet").to_pandas()
    out = []
    for k in range(reps):
        r = base.copy()
        for col, step in offsets.items():
            r[col] = r[col] + step * k
        out.append(r)
    return pd.concat(out, ignore_index=True)


def main() -> None:
    outdir = sys.argv[1] if len(sys.argv) > 1 else "/root/sfbig/sf1.0"
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.RandomState(4242)

    def write(name: str, df: pd.DataFrame) -> None:
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            f"{outdir}/{name}.parquet",
        )
        print(f"{name}: {len(df)} rows")

    write("documents", gen_documents(rng, 50_000))
    write("embeddings", gen_embeddings(rng, 20_000))
    write(
        "events", replicate("events", 10, {"event_id": 100_000, "user_id": 1_500})
    )


if __name__ == "__main__":
    main()
