"""Deterministic, cross-engine-reproducible hashing for the curation operators
(packing, sketches, text analysis).

Two tiers:
- ``poly_hash`` — a polynomial character fold expressed with Spark
  higher-order functions (``transform``/``aggregate``). Slow-ish but
  bit-reproducible in DuckDB (``list_transform``/``list_reduce``), which is
  what makes those operators oracle-checkable.
- ``xxhash64`` (Spark built-in) — the scale path; same operators accept
  ``hash_fn="xxhash64"`` when cross-engine reproducibility isn't needed.

Derived hash family: h_i(x) = (a_i * h(x) + b_i) mod P with (a_i, b_i)
drawn from a seeded RNG — one character fold per shingle, then cheap
arithmetic per family member (the classic universal-hashing trick, so a
64-hash MinHash signature costs 1 fold + 64 multiplications, not 64 folds).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# modulus for the character fold: 2^40 keeps acc*31+c < 2^46, far from
# BIGINT overflow in both engines (DuckDB raises on overflow; Spark wraps)
FOLD_MOD = 1 << 40
# prime modulus for the derived family
FAMILY_P = 1_099_511_627_791  # smallest prime > 2^40
SEED = 7


def poly_hash(col: Column, seed: int = SEED) -> Column:
    """Polynomial fold over characters: bit-identical to the DuckDB
    expression in :func:`poly_hash_duckdb`."""
    chars = F.transform(F.split(col, ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        chars,
        F.lit(seed).cast("long"),
        lambda acc, x: (acc * 31 + x) % FOLD_MOD,
    )


def poly_hash_duckdb(expr: str, seed: int = SEED) -> str:
    """DuckDB SQL computing the same value as :func:`poly_hash`.

    DuckDB's list_reduce has no init parameter; prepending the seed to the
    mapped list makes its first-element-as-accumulator fold identical to
    Spark's explicit-init fold."""
    return (
        f"list_reduce(list_prepend({seed}::BIGINT, "
        f"list_transform(string_split({expr}, ''), c -> ascii(c)::BIGINT)), "
        f"(acc, x) -> (acc * 31 + x) % {FOLD_MOD})"
    )


def hash_family(num: int, rng_seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the derived universal family."""
    rng = np.random.RandomState(rng_seed)
    return [
        (int(rng.randint(1, 1 << 20)), int(rng.randint(0, 1 << 20)))
        for _ in range(num)
    ]


def derived_hash(base: Column, a: int, b: int) -> Column:
    return (F.lit(a) * base + F.lit(b)) % F.lit(FAMILY_P)


def derived_hash_duckdb(base_expr: str, a: int, b: int) -> str:
    return f"(({a}::BIGINT * {base_expr} + {b}) % {FAMILY_P})"
