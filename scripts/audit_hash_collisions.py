"""Verify the r7 xxhash64 gram-key substitution is collision-free.

Round 7 replaced gram/shingle STRING join keys with xxhash64 longs in the
dedup/overlap/decontaminate/substring tier (join/group keys only, never
output).  Results are identical to the string-keyed plans unless two
distinct grams collide in 64 bits.  This script checks, for every gram
construction a hashed query uses and every shipped scale, that

    COUNT(DISTINCT gram) == COUNT(DISTINCT xxhash64(gram))

i.e. xxhash64 is injective on the actual (deterministic) fixture gram sets
— which proves the hashed plans compute byte-identical results at these
scales.  (Expected-collision math: ~m^2/2^65, about 1e-6 at 10^7 grams.)

    python scripts/audit_hash_collisions.py [sf_dir ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyspark.sql.functions as F  # noqa: E402


def gram_counts(df, n: int, key: str = "doc_id", tuple_hash: bool = False):
    """(distinct gram strings, distinct hashes).  ``tuple_hash=True``
    audits the r7.2 MULTI-ARG xxhash64 over the n tokens (used by
    doc_substring_dedup — no concatenated string is built in the query);
    default audits xxhash64 over the joined gram string."""
    w = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    toks = df.select(key, w.alias("w")).filter(F.size("w") >= n)
    gram = F.transform(
        F.sequence(F.lit(1), F.size("w") - (n - 1)),
        lambda i: F.struct(
            F.concat_ws(
                " ", *[F.element_at(F.col("w"), i + k) for k in range(n)]
            ).alias("g"),
            F.xxhash64(
                *[F.element_at(F.col("w"), i + k) for k in range(n)]
            ).alias("th"),
        ),
    )
    rows = toks.select(F.explode(gram).alias("u")).select(
        F.col("u.g").alias("g"), F.col("u.th").alias("th")
    )
    hashed = F.col("th") if tuple_hash else F.xxhash64("g")
    r = rows.agg(
        F.countDistinct("g").alias("strings"),
        F.countDistinct(hashed).alias("hashes"),
    ).collect()[0]
    return r["strings"], r["hashes"]


def main() -> int:
    from moira_spark.harness import load
    from moira_spark.harness.dedup import (
        _planted_exact,
        _planted_near,
    )
    from moira_spark.session import build_session

    sf_dirs = sys.argv[1:] or [
        f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1", "1.0")
    ]
    spark = build_session(app_name="hash-audit")
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    for sf in sf_dirs:
        d = load(spark, sf, "documents").select("doc_id", "text")
        # every corpus variant a hashed query shingles, incl. its plants
        boiler = d.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.col("text"),
                    F.lit(" legal notice all rights reserved worldwide"),
                ),
            ).otherwise(F.col("text")).alias("text"),
        )
        wrap = d.unionAll(
            d.select(
                (F.col("doc_id") + 4000000).alias("doc_id"),
                F.concat(
                    F.lit("standard header boilerplate notice begins here "),
                    F.col("text"),
                    F.lit(
                        " standard footer boilerplate notice ends here"
                        " continues onward"
                    ),
                ).alias("text"),
            )
        )
        from moira_spark.harness.dedup import _SUBSTR_BOILER, _SUBSTR_K
        from moira_spark.harness.text import _OVL_PLANT

        ovl = d.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 6 == 0,
                F.concat(F.col("text"), F.lit(" " + _OVL_PLANT)),
            ).otherwise(F.col("text")).alias("text"),
        )
        sub = d.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.col("text"), F.lit(" " + _SUBSTR_BOILER)),
            ).otherwise(F.col("text")).alias("text"),
        )
        cases = [
            ("3gram_near", _planted_near(spark, sf), 3, False),
            ("3gram_exact", _planted_exact(spark, sf), 3, False),
            ("3gram_boiler", boiler, 3, False),
            ("3gram_wrap", wrap, 3, False),
            ("8gram_decon", d, 8, False),
            ("5gram_overlap", ovl, 5, False),
            # doc_substring_dedup hashes the k tokens directly (r7.2)
            (f"{_SUBSTR_K}tuple_substr", sub, _SUBSTR_K, True),
        ]
        for name, corpus, n, tup in cases:
            s, h = gram_counts(corpus, n, tuple_hash=tup)
            ok = "OK " if s == h else "COLLISION"
            if s != h:
                bad += 1
            print(f"{sf} {name:14s} n={n:2d} strings={s:9d} hashes={h:9d} {ok}")
    print("FAILURES:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
