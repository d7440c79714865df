"""MinHash / SimHash primitives.

MinHash: k independent permutations are simulated as universal hashes
over one md5 base hash per shingle, min-reduced per document — the
standard one-hash-function-per-permutation construction
(``minhash_signatures_fast``); ``lsh_bands`` cuts a signature into
banded bucket keys.

SimHash: 64-bit signature where bit b = sign of the sum over features of
(+1/-1 depending on feature-hash bit b). Hamming-close signatures ⇒ similar
documents.

Signatures are computed per document, so the ``*_fast`` functions run
as one map-side ``mapInPandas`` stage with no shuffle — the shape that
scales to 100 TB. ``simhash_signatures`` is the JVM-side form over a
caller-built feature array: explode features to rows, one xxhash64 per
feature, and a per-doc bit-vote aggregate (map-side partial agg).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rust_cdc_validator_spark.plans.inspect import ensure_parallelism


def lsh_bands(signature: Column, num_bands: int, rows_per_band: int) -> Column:
    """Split a minhash signature into banded bucket keys.

    Returns array of ``num_bands`` structs (band_id, bucket) where bucket is
    a hash of that band's rows — two docs land in the same (band_id, bucket)
    iff that band of their signatures matches exactly.
    """
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    *[
                        F.element_at(signature, b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ]
                ).alias("bucket"),
            )
            for b in range(num_bands)
        ]
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (popcount of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


# ------------------------------------------------------- DataFrame-level


def minhash_signatures_fast(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    seed: int = 7,
) -> DataFrame:
    """(id, _sig: array<long>) via a pure map-side mapInPandas stage —
    MinHash is per-document, so like ``simhash_signatures_fast`` it needs NO
    shuffle: shingle, one md5 base hash per shingle (8 bytes → uint64), then
    k universal-hash "permutations" ``(a_i·h + b_i) mod 2⁶⁴`` (odd ``a_i`` ⇒
    bijective on Z₂⁶⁴) masked to 63 bits, min-reduced per doc with one numpy
    reduction. Replaces round 1's explode → 64 hash columns → wide
    min-aggregate, whose (id, 64 longs) shuffle dominated `minhash_near_dup`
    (VERDICT r1 perf audit); here signature computation rides the scan stage.

    Shingle semantics mirror ``text.word_shingles``: whitespace tokens,
    n-word windows, docs with < n tokens contribute one all-tokens shingle.
    Empty docs get the MaxValue sentinel signature.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    a_co = (rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b_co = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)
    sentinel = 0x7FFFFFFFFFFFFFFF

    def gen(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            sigs = np.full((len(pdf), num_hashes), sentinel, dtype=np.int64)
            for i, text in enumerate(pdf[text_col]):
                toks = (text or "").split()
                if not toks:
                    continue
                if len(toks) >= shingle_n:
                    feats = {
                        " ".join(toks[j : j + shingle_n])
                        for j in range(len(toks) - shingle_n + 1)
                    }
                else:
                    feats = {" ".join(toks)}
                base = np.frombuffer(
                    b"".join(hashlib.md5(f.encode()).digest()[:8] for f in feats),
                    dtype=np.uint64,
                )
                # (k, n_shingles) universal hashes, wrap-around mod 2^64,
                # masked to 63 bits so the int64 signature stays non-negative
                perms = (a_co[:, None] * base[None, :] + b_co[:, None]) >> np.uint64(1)
                sigs[i] = perms.min(axis=1).astype(np.int64)
            yield pd.DataFrame({"_id": ids, "_sig": list(sigs)})

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("_id", T.LongType()),
            T.StructField("_sig", T.ArrayType(T.LongType())),
        ]
    )
    return ensure_parallelism(df.select(id_col, text_col)).mapInPandas(gen, schema)


def simhash_signatures_fast(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, _sim: long) via a pure map-side mapInPandas stage — SimHash is
    per-document, so it needs NO shuffle: shingle, hash (md5, 8 bytes),
    unpack bits with numpy, vote, pack. ~an order of magnitude faster than
    the 63-column aggregate formulation and the right shape at 100 TB
    (signature computation rides the scan stage).

    Hash function is md5 (python-side) rather than JVM xxhash64 — SimHash
    only needs a deterministic hash, not a specific one; signatures are NOT
    comparable across the two formulations.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            sigs = np.zeros(len(pdf), dtype=np.int64)
            for i, text in enumerate(pdf[text_col]):
                toks = (text or "").split()
                if len(toks) >= shingle_n:
                    feats = [
                        " ".join(toks[j : j + shingle_n])
                        for j in range(len(toks) - shingle_n + 1)
                    ]
                else:
                    feats = [" ".join(toks)]
                h = np.frombuffer(
                    b"".join(hashlib.md5(f.encode()).digest()[:8] for f in feats),
                    dtype=np.uint64,
                )
                bits = (h[:, None] >> np.arange(63, dtype=np.uint64)) & 1
                votes = 2 * bits.sum(axis=0).astype(np.int64) - len(feats)
                sigs[i] = int(((votes > 0).astype(np.uint64)
                               << np.arange(63, dtype=np.uint64)).sum())
            yield pd.DataFrame({"_id": ids, "_sim": sigs})

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("_id", T.LongType()), T.StructField("_sim", T.LongType())]
    )
    return ensure_parallelism(df.select(id_col, text_col)).mapInPandas(gen, schema)


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    features: Column,
    num_bits: int = 63,  # bit 63 omitted: keep the signature non-negative
) -> DataFrame:
    """(id, _sim: long) per row via explode → per-feature hash → bit votes.

    Bit b of the signature is 1 iff more features have bit b of their
    xxhash64 set than clear.
    """
    feats = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"), F.explode_outer(features).alias("_f")
    ).select("_id", F.when(F.col("_f").isNotNull(), F.xxhash64("_f")).alias("_h"))
    votes = feats.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.col("_h").isNull(), 0)
                .when(F.col("_h").bitwiseAND(F.lit(1 << b).cast("long")) != 0, 1)
                .otherwise(-1)
            ).alias(f"_v{b}")
            for b in range(num_bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(num_bits):
        sig = sig + F.when(F.col(f"_v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select("_id", sig.alias("_sim"))
