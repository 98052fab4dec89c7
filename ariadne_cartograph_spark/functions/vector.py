"""Vector math over array<float/double> embedding columns —
native Column expressions (F.zip_with / F.aggregate), JVM-side.
(SURVEY.md north-star "similarity search"; embeddings table.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product — sequential fold in element order (deterministic)."""
    prods = F.zip_with(as_double(a), as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    v = as_double(a)
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; a zero vector scores 0.0 instead of raising
    ANSI divide-by-zero. The 0.0 convention matches the blocked numpy
    kernels (operators/similarity unpack() clamps zero norms to 1, so
    a zero vector's scores are exactly 0.0) — the column and GEMM
    paths must agree for the strategy-equivalence contract. Testdata
    has no zero vectors, so DuckDB oracles (which would yield NaN)
    are unaffected."""
    from .text import _bind

    return _bind(
        norm(a) * norm(b),
        lambda d: F.when(d != 0.0, dot(a, b) / d).otherwise(F.lit(0.0)),
    )


def rademacher_planes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """±1.0 hyperplane components derived from md5 digests — stable
    across runs, platforms, and engines, and small enough to inject as
    literals into both a Spark Column tree and a DuckDB oracle SQL
    string (that cross-engine injectability is the whole point: the
    oracle can replicate the exact bucketing, so an LSH query becomes
    value-hash checkable without the oracle needing xxhash64)."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()[0] & 1
            else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def literal_plane_sign_bits(vec: Column | str, planes: list[list[float]]) -> Column:
    """Bit-pack sign(dot(vec, plane_p)) over literal ±1 planes into a
    BIGINT bucket id. dot folds in element order (matching DuckDB's
    list_dot_product accumulation), so both engines compute identical
    IEEE doubles and therefore identical sign bits."""
    from .text import _bind

    def body(vv: Column) -> Column:
        out = F.lit(0).cast("long")
        for p, row in enumerate(planes):
            arr = F.array(*[F.lit(x) for x in row])
            dot_p = F.aggregate(
                F.zip_with(vv, arr, lambda x, s: x * s),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            out = out + F.when(dot_p >= 0, F.lit(1 << p).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        return out

    return _bind(as_double(vec), body)


def hyperplane_sign_bits(vec: Column | str, n_planes: int, seed: int = 42) -> Column:
    """Random-hyperplane LSH signature as a BIGINT bit-pack.

    Plane components are deterministic pseudo-randoms derived from
    xxhash64(seed, plane, dim) — reproducible across runs/executors
    with no side data to ship. Sign of dot(vec, plane) → bit.
    (component_d = hash mapped to {-1,+1}: cheap Rademacher planes —
    public SRP-LSH variant, Achlioptas-style sparse projection.)

    Shape: let-bound vector + one nested transform over plane indices +
    mask-array packing — the unrolled per-plane form re-evaluated the
    cast array per plane and compiled ~3× slower (same fix as
    minhash/simhash in operators/dedup.py).
    """
    from .text import _bind

    if n_planes > 64:
        raise ValueError(f"n_planes must be <= 64 to pack into one BIGINT, got {n_planes}")
    # Plane 63's mask is Long.MIN_VALUE (1<<63 overflows LongType) —
    # same sign-bit trick as the simhash masks in operators/dedup.py.
    masks = F.array(
        *[
            F.lit(-(1 << 63)).cast("long") if p == 63 else F.lit(1 << p).cast("long")
            for p in range(n_planes)
        ]
    )

    def body(vv: Column) -> Column:
        signs = F.transform(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda p: F.aggregate(
                F.zip_with(
                    vv,
                    F.sequence(F.lit(0), F.size(vv) - 1),
                    lambda x, d: x
                    * F.when(
                        F.pmod(F.xxhash64(F.lit(seed), p, d), F.lit(2)) == 0, 1.0
                    ).otherwise(-1.0),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        return F.aggregate(
            F.zip_with(
                signs,
                masks,
                lambda s, m: F.when(s >= 0, m).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return _bind(as_double(vec), body)
