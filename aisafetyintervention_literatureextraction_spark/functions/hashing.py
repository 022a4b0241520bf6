"""Deterministic hashing: surrogate ids, MinHash signatures, SimHash.

All JVM-side column expressions (xxhash64 + array combinators) — no
Python UDFs, no nondeterminism. Surrogate ids replace the reference's
connection-state-dependent FalkorDB ``ID(n)`` (reference db.py:71,
merge.py:109 — SURVEY.md §4.3 flags that as a weakness, not a behavior
to copy): ``node_id = xxhash64(type, name)`` is stable across runs,
which is what makes checkpoint/resume replayable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_node_id(ntype: Column | str, name: Column | str) -> Column:
    t = F.col(ntype) if isinstance(ntype, str) else ntype
    n = F.col(name) if isinstance(name, str) else name
    return F.xxhash64(F.coalesce(t, F.lit("")), n)


def minhash_signature(tokens: Column, num_hashes: int = 32) -> Column:
    """MinHash signature: for seed s, min over tokens of
    xxhash64(s, token). Pure column expr — one pass over the token
    array per seed, no Python. The ``transform`` lambdas are evaluated
    interpreted (higher-order functions are CodegenFallback), so the
    cost grows with seeds × tokens: fine for stage C's few name
    tokens, not for document shingles (see the Arrow variants below)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda s: F.array_min(F.transform(tokens, lambda t: F.xxhash64(s, t))),
    )


def lsh_bands(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Band the signature for LSH bucketing: hash each band slice →
    array of (band_idx, bucket_hash) structs, later exploded and
    joined on (band_idx, bucket)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                F.array_join(
                    F.transform(
                        F.slice(signature, b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("bucket"),
        ),
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


# --------------------------------------------------------------------------
# Arrow-batch variants for DOCUMENT-scale inputs. The column-expression
# versions above are right for small arrays (stage-C node-name tokens:
# a handful of elements, zero Python crossing); on documents with
# thousands of char shingles they degrade into num_hashes × n_tokens
# interpreted lambda evaluations per row (measured 285 s for the sf0.1
# minhash query — the VERDICT r1 'What's wrong #2' pathology). These
# compute the same *family* of sketches from raw text in a few numpy
# passes per Arrow batch: byte-level sliding windows packed into uint64
# codes (no string hashing at all), splitmix64-mixed, then per-segment
# reduceat. Deterministic across runs/executors (seeded affine family);
# the hash family differs from the expr versions, which is immaterial —
# LSH buckets are engine-internal and every emitted pair is verified by
# EXACT Jaccard/hamming afterwards.
# --------------------------------------------------------------------------

def _pack_shingles(texts, k: int):
    """uint64 shingle codes + segment starts for a batch of strings.
    k ≤ 8 (codes are byte-windows packed into one word).

    Documents are flattened with k-1 sentinel NUL bytes between them so
    a sub-k-length document's single window pads with NULs instead of
    reading the NEXT document's bytes (ADVICE r2: neighbor-dependent
    short-doc signatures broke the deterministic-across-partitionings
    contract)."""
    import numpy as np

    data = [(t or "").lower().encode("utf-8") for t in texts]
    lens = np.fromiter(map(len, data), dtype=np.int64, count=len(data))
    sep = b"\x00" * (k - 1)
    flat = np.frombuffer(sep.join(data) + b"\x00" * k, dtype=np.uint8)
    offsets = np.concatenate(([0], np.cumsum(lens + (k - 1))[:-1]))
    counts = np.maximum(lens - k + 1, 1)
    seg_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    total = int(counts.sum())
    pos = (
        np.arange(total, dtype=np.int64)
        - np.repeat(seg_starts, counts)
        + np.repeat(offsets, counts)
    )
    W = np.lib.stride_tricks.sliding_window_view(flat, k)[pos].astype(np.uint64)
    pows = np.uint64(1) << (np.uint64(8) * np.arange(k, dtype=np.uint64))
    codes = (W * pows).sum(axis=1, dtype=np.uint64)
    # splitmix64 finalizer — decorrelates the positional packing
    z = codes + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    return z, seg_starts


def _affine_family(num_hashes: int, seed: int):
    import numpy as np

    rng = np.random.RandomState((seed * 7919 + num_hashes * 31) % (2**31 - 1))
    A = (rng.randint(1, 2**62, size=num_hashes).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.randint(0, 2**62, size=num_hashes).astype(np.uint64)
    return A, B


def minhash_text_signature(
    text: Column, shingle_k: int = 5, num_hashes: int = 64, seed: int = 0
) -> Column:
    """MinHash signature (array<long>) straight from a text column:
    one Arrow batch → packed shingle codes → num_hashes affine
    transforms + per-document reduceat minima. MinHash over a multiset
    equals MinHash over the set, so no dedup pass is needed."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def fn(s):  # scalar pandas UDF (hints omitted: pd not module-global here)
        import numpy as np

        if len(s) == 0:
            return pd.Series([], dtype=object)
        codes, seg_starts = _pack_shingles(s.to_numpy(), shingle_k)
        A, B = _affine_family(num_hashes, seed)
        out = np.empty((len(s), num_hashes), dtype=np.int64)
        for i in range(num_hashes):
            v = codes * A[i] + B[i]
            out[:, i] = np.minimum.reduceat(v, seg_starts).view(np.int64)
        return pd.Series(list(out))

    return pandas_udf(fn, "array<long>")(text)


def simhash64_text(text: Column, shingle_k: int = 4) -> Column:
    """64-bit SimHash fingerprint (long) straight from a text column:
    per-bit ±1 sums over packed shingle codes via reduceat."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def fn(s):  # scalar pandas UDF (hints omitted: pd not module-global here)
        import numpy as np

        if len(s) == 0:
            return pd.Series([], dtype="int64")
        codes, seg_starts = _pack_shingles(s.to_numpy(), shingle_k)
        out = np.zeros(len(s), dtype=np.uint64)
        for b in range(64):
            bits = (((codes >> np.uint64(b)) & np.uint64(1)).astype(np.int64) << 1) - 1
            sums = np.add.reduceat(bits, seg_starts)
            out |= (sums > 0).astype(np.uint64) << np.uint64(b)
        return pd.Series(out.view(np.int64))

    return pandas_udf(fn, "long")(text)


def minhash_tokens_signature(
    tokens: Column, num_hashes: int = 64, seed: int = 0
) -> Column:
    """MinHash signature (array<long>) from a token-array column (word
    n-grams etc. — inputs that aren't plain text): flatten the batch's
    tokens, hash once with pandas' fixed-key siphash (deterministic
    across executors/runs), then the same affine family + reduceat
    minima as the text variant."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def fn(col):  # scalar pandas UDF (hints omitted: pd not module-global here)
        import numpy as np

        if len(col) == 0:
            return pd.Series([], dtype=object)
        vals = [x if len(x) else [""] for x in col]  # keep segments non-empty
        lens = np.fromiter(map(len, vals), dtype=np.int64, count=len(vals))
        flat = pd.Series(np.concatenate([np.asarray(v, dtype=object) for v in vals]))
        base = pd.util.hash_pandas_object(flat, index=False).to_numpy()
        starts = np.zeros(len(vals), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        A, B = _affine_family(num_hashes, seed)
        out = np.empty((len(vals), num_hashes), dtype=np.int64)
        for i in range(num_hashes):
            v = base * A[i] + B[i]
            out[:, i] = np.minimum.reduceat(v, starts).view(np.int64)
        return pd.Series(list(out))

    return pandas_udf(fn, "array<long>")(tokens)
