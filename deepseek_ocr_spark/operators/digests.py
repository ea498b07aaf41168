"""The Spark-side digest layer: every md5-derived integer the operators
key on, spelled once.

- ``md5_int``        — a hex window of md5 as an unsigned BIGINT;
- ``token_hashes``   — the per-token 60-bit hash array;
- ``rot60``          — the masked 60-bit rotation;
- ``window_digests`` — the rotated-XOR digest of every w-token window.

Each one has a DuckDB mirror, named in its docstring. The oracle SQL
spells that mirror itself on purpose: it is the independent reference
derivation, so it imports nothing from here.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def md5_int(col, start: int, n_hex: int):
    """BIGINT of the ``n_hex`` md5 hex chars of ``col`` from 1-based
    ``start``: conv(substring(md5(col), start, n_hex), 16, 10).  DuckDB
    mirror: CAST(('0x' || substr(md5(x), start, n_hex)) AS BIGINT).  Keep
    n_hex ≤ 15: the value is then < 2^60, unsigned in both engines (a
    16th hex char could set the sign bit)."""
    return F.conv(F.substring(F.md5(col), start, n_hex), 16, 10).cast("bigint")


def token_hashes(col: str = "text"):
    """array<bigint> of per-TOKEN 60-bit md5 hashes (``md5_int(t, 1,
    15)`` over the non-empty space-split tokens).  DuckDB mirror:
    list_transform(list_filter(string_split(x, ' '), t -> t != ''),
    t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT))."""
    toks = F.filter(F.split(F.col(col), " "), lambda t: t != "")
    return F.transform(toks, lambda t: md5_int(t, 1, 15))


def rot60(c, s: int):
    """60-bit left rotation via masked shifts — the mask keeps every
    intermediate < 2^60 so DuckDB's checked BIGINT shift cannot overflow
    (the mirrored SQL uses the identical expression:
    ((c & (2^(60-s) - 1)) << s) | (c >> (60 - s)))."""
    lo = (1 << (60 - s)) - 1
    return F.shiftleft(c.bitwiseAND(F.lit(lo)), s).bitwiseOR(F.shiftright(c, 60 - s))


def window_digests(hcol, w: int, step: int):
    """array<bigint> of 60-bit digests of every ``w``-token window over a
    token-hash array: digest(i) = ⊕_{j<w} rot60(h[i+j], step·j).  The
    position-dependent rotations make the digest order-sensitive;
    collisions are ~2^-60 per distinct-window pair, and both engines
    compute it bit-for-bit.  Fewer than ``w`` tokens give an
    empty array.  Callers: contamination 3-grams (3, 20), span windows
    (w, 6), DSIR/classifier bigrams (2, 20).

    Raises ValueError unless w ≥ 1 and step·(w−1) < 60: a rotation of 60
    bits or more is no rotation, and the mirrored DuckDB shift would
    overflow.

    ``hcol`` MUST be a projected column, not the token_hashes expression
    inline: element_at over an inline transform re-evaluates the whole
    transform per element (measured: 79s vs 0.64s at sf0.1 — O(n²) in doc
    length).  Catalyst's CollapseProject keeps the two projections apart
    because the alias is referenced many times and is non-trivial."""
    if w < 1 or step * (w - 1) >= 60:
        raise ValueError(
            f"window_digests needs w >= 1 and step*(w-1) < 60; got w={w}, step={step}"
        )
    n = F.size(hcol)

    def digest(i):
        acc = F.element_at(hcol, i)
        for j in range(1, w):
            acc = acc.bitwiseXOR(rot60(F.element_at(hcol, i + F.lit(j)), step * j))
        return acc

    return F.when(
        n >= w,
        F.transform(F.sequence(F.lit(1), n - (w - 1)), digest),
    ).otherwise(F.array().cast("array<bigint>"))
