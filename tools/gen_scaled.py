"""Generate an N× replica-shifted scale point from sf0.1 (default sf1).

The driver ships sf0.001/0.01/0.1; two-point scaling fits can hide a
quadratic term inside fixed overhead, so this tool manufactures a
THIRD point by replicating the largest driver-generated tables with
shifted keys — a standard cardinality-scaling technique:

- fact/entity tables (customer, supplier, part, orders, lineitem,
  events, documents, embeddings) are unioned R times; every primary
  key and its foreign-key references shift by ``replica * KEY_STRIDE``
  consistently, so join selectivity, group cardinality ratios, and
  per-key fan-outs are preserved exactly (each replica is an
  independent, structurally identical sub-corpus).
- dimension tables (region, nation) keep their fixed domain — as in
  TPC-H, where nation/region do not scale.
- document text is caesar-shifted per replica (letters rotated by the
  replica index) so replicas do NOT collide in shingle/fingerprint
  space: a 10× corpus then carries ~10× the near-dup pairs (constant
  dup *rate*), not the 100× pair blowup artificial exact copies would
  create. Token counts, lengths, and whitespace structure are
  untouched, so the per-row compute is identical.
- embeddings get a tiny deterministic per-replica offset on dimension
  0 (replica * 1e-3) so identical-vector cross-replica pairs don't
  saturate near-dup thresholds while norms/cluster geometry stay
  effectively unchanged.

This is for SCALING measurement (wall-time exponents), not
correctness oracles — the synthetic text/vector perturbations are
documented distortions. Output dir defaults to
``.scaledata/sf1`` in this checkout (never writes to the source
data directory).

Text perturbation is an AFFINE substitution cipher per replica:
letter ``i`` maps to ``(a*i + b) mod 26`` with ``a`` one of the 12
units of Z/26 and ``b = replica % 26`` — 312 distinct alphabet
permutations, so up to 312 replicas (sf ≈ 31) carry NEAR-disjoint
shingle spaces: two distinct affine maps agree exactly on the letters
where ``(a1-a2)*i ≡ b2-b1 (mod 26)`` has solutions, so specific words
can still collide across replicas from different multiplier decades —
rare enough not to distort scaling exponents, and oracles are
unaffected since they run over the generated data itself. Replicas 0..25 use ``a=1`` (plain Caesar), keeping
sf1 outputs byte-identical to earlier rounds' fixtures. Word lengths,
token boundaries, and case structure are untouched, so per-row
compute is identical across replicas.

Usage: python tools/gen_scaled.py [--replicas 10] [--out DIR]
       [--src DIR] [--tables t1,t2,...]
``--tables`` restricts output (e.g. ``--tables documents`` for the
sf10 substring-family point); dimension tables are always copied so
``load_views`` callers that touch region/nation keep working.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
KEY_STRIDE = 1 << 32  # clean shift far above any sf0.1 key

DIMENSION_TABLES = ("region", "nation")

# table -> columns to shift by replica*KEY_STRIDE (PKs and the FKs
# that reference a scaled table; nationkey/regionkey stay fixed)
SHIFT_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


# the 12 units of Z/26 — multipliers for the affine text cipher.
# a=1 first so replicas 0..25 reduce to the original Caesar rotation.
_AFFINE_A = (1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)


def _affine_alphabet(replica: int) -> str:
    """The substitution alphabet for a replica: 312 distinct
    permutations before any two replicas share text."""
    a = _AFFINE_A[(replica // 26) % len(_AFFINE_A)]
    b = replica % 26
    return "".join(
        chr(ord("a") + (a * i + b) % 26) for i in range(26)
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    # <= 312: the affine cipher has 12*26 distinct alphabets; replica
    # 312 would reproduce replica-0 text verbatim and recreate exactly
    # the cross-replica near-dup blowup the cipher exists to prevent
    ap.add_argument("--replicas", type=int, default=10,
                    choices=range(1, 313), metavar="N (1..312)")
    ap.add_argument("--out", default=os.path.join(REPO, ".scaledata", "sf1"))
    ap.add_argument("--src", default=SRC)
    ap.add_argument("--tables", default=None,
                    help="comma-separated subset of scaled tables to "
                         "write (dimensions always copied)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from arc_jupyter_spark.session import build_session

    spark = build_session(app_name="gen-scaled")
    os.makedirs(args.out, exist_ok=True)

    for t in DIMENSION_TABLES:
        spark.read.parquet(f"{args.src}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{args.out}/{t}.parquet")
        print(f"{t}: copied (dimension)")

    scaled = SHIFT_COLS
    if args.tables:
        want = {t.strip() for t in args.tables.split(",")}
        unknown = want - set(SHIFT_COLS)
        if unknown:
            raise SystemExit(f"unknown tables: {sorted(unknown)}")
        scaled = {t: c for t, c in SHIFT_COLS.items() if t in want}

    for t, shift_cols in scaled.items():
        base = spark.read.parquet(f"{args.src}/{t}.parquet")
        parts = []
        for i in range(args.replicas):
            rep = base
            for c in shift_cols:
                rep = rep.withColumn(
                    c, (F.col(c) + F.lit(i * KEY_STRIDE)).cast("bigint")
                )
            if t == "documents" and i > 0:
                # affine-substitute letters so replica shingle spaces
                # are disjoint; length/token structure identical
                src = "abcdefghijklmnopqrstuvwxyz"
                rot = _affine_alphabet(i)
                rep = rep.withColumn(
                    "text",
                    F.translate(
                        F.col("text"),
                        src + src.upper(),
                        rot + rot.upper(),
                    ),
                )
            if t == "embeddings" and i > 0:
                rep = rep.withColumn(
                    "embedding",
                    F.concat(
                        F.array(
                            (
                                F.element_at("embedding", 1)
                                + F.lit(i * 1e-3)
                            ).cast("float")
                        ),
                        F.slice(
                            "embedding", 2, F.size("embedding") - 1
                        ),
                    ),
                )
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        # selectExpr to restore original column order/types after edits
        out.select(*base.columns).write.mode("overwrite").parquet(
            f"{args.out}/{t}.parquet"
        )
        n = spark.read.parquet(f"{args.out}/{t}.parquet").count()
        print(f"{t}: {n} rows ({args.replicas}x)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
