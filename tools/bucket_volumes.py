"""Candidate-pair VOLUME audit for every banded-LSH width at a corpus.

Usage: python tools/bucket_volumes.py <corpus_dir> [name ...]

For each (family, width) the script computes Σ_buckets C(n,2) across
bands — the exact number of candidate pairs the banding join would
emit BEFORE any verify filter — as a cheap bucket-occupancy
aggregation (no pair materialization). This is how the saturating
widths are quantified at scales where actually emitting the pairs
would run for hours: the volume IS the cost driver, and it is
measurable in seconds at any corpus size. Each family reproduces the
production operator's exact bucket keying (same band seeds, same md5
band hash, same chunk extraction), so the numbers are the operator's
own join volumes, not a model of them.

For MinHash both the raw volume and the volume surviving the
operator's ``max_bucket=1000`` skew cap are reported (the cap drops
pathological buckets but cannot fix an under-provisioned band width).

Widths follow the ``chunk_bits ≈ log2(N / occupancy)`` rule probe
(SCALE §1e): the rule-chosen width's volume should grow
~linearly with N; a width held fixed while N grows 10× shows the
quadratic bucket-occupancy blowup.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from timeseries_data_analysis_spark.session import get_spark  # noqa: E402
from timeseries_data_analysis_spark.operators import (  # noqa: E402
    dedup as DD, similarity as SIM,
)


def simhash_band_buckets(docs, bits: int, bands: int, hex_digits: int):
    """(band, bucket) rows — same shiftright+mask chunk extraction as
    ``simhash_hamming_pairs``."""
    chunk_bits = bits // bands
    mask = (1 << chunk_bits) - 1
    fp = DD.simhash_fingerprints(docs, n=2, bits=bits,
                                 hex_digits=hex_digits)
    structs = [F.struct(
        F.lit(b).alias("band"),
        F.shiftright(F.col("_fp"), b * chunk_bits)
        .bitwiseAND(F.lit(mask)).cast("string").alias("bucket"))
        for b in range(bands)]
    return (fp.select(F.explode(F.array(*structs)).alias("bc"))
            .select("bc.band", "bc.bucket"))


def simhash_wide_band_buckets(docs, half_bits: int = 48, bands: int = 4):
    """(band, bucket) rows — same half-aware chunk extraction as
    ``simhash_wide_pairs`` (2×half_bits-bit fingerprint, 24-bit chunks
    at the default: the width-rule-compliant banding for multi-million-
    doc corpora)."""
    chunk_bits = 2 * half_bits // bands
    mask = (1 << chunk_bits) - 1
    per_half = bands // 2
    fp = DD.simhash_wide_fingerprints(docs, half_bits=half_bits)
    structs = [F.struct(
        F.lit(b).alias("band"),
        F.shiftright(F.col("_fp_lo" if b < per_half else "_fp_hi"),
                     (b % per_half) * chunk_bits)
        .bitwiseAND(F.lit(mask)).cast("string").alias("bucket"))
        for b in range(bands)]
    return (fp.select(F.explode(F.array(*structs)).alias("bc"))
            .select("bc.band", "bc.bucket"))


def minhash_band_buckets(docs, num_hashes: int, bands: int):
    """(band, bucket) rows — same md5-of-signature-slice keying as
    ``minhash_lsh_candidates``."""
    rows_per_band = num_hashes // bands
    sig = DD.minhash_signatures(docs, num_hashes=num_hashes)
    return (sig.select(F.explode(F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(F.concat_ws(",", F.slice(
                F.col("_sig"), b * rows_per_band + 1, rows_per_band
            ))).alias("bucket")))).alias("bb"))
        .select("bb.band", "bb.bucket"))


def lsh_band_buckets(emb, dim: int, bands: int, bits: int,
                     seed: int = 1000):
    """(band, bucket) rows — same per-band seeds as
    ``lsh_neardup_pairs`` (seed + band)."""
    out = emb.select(*[
        SIM.lsh_bucket(F.col("embedding"), dim, bits=bits,
                       seed=seed + b).alias(f"b{b}")
        for b in range(bands)])
    return out.selectExpr("stack({}, {}) as (band, bucket)".format(
        bands, ", ".join(f"'{b}', cast(b{b} as string)"
                         for b in range(bands))))


def pair_volumes(bb, cap: int | None = None):
    """(raw, capped) Σ over (band, bucket) of C(n, 2)."""
    occ = bb.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("n"))
    pairs = F.expr("n * (n - 1) / 2")
    aggs = [F.sum(pairs).alias("raw")]
    if cap is not None:
        aggs.append(F.sum(F.when(F.col("n") <= cap, pairs)
                          .otherwise(F.lit(0))).alias("capped"))
    row = occ.agg(*aggs).collect()[0]
    raw = int(row["raw"] or 0)
    return (raw, int(row["capped"] or 0)) if cap is not None else (raw, None)


def main() -> None:
    corpus = sys.argv[1]
    only = set(sys.argv[2:])
    spark = get_spark("bucket-volumes")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{corpus}/documents.parquet")
    emb = spark.read.parquet(f"{corpus}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))

    FAMS = {
        "simhash48": (lambda: simhash_band_buckets(docs, 48, 4, 12), None),
        "simhash60": (lambda: simhash_band_buckets(docs, 60, 4, 15), None),
        "simhash_wide96": (lambda: simhash_wide_band_buckets(docs), None),
        "minhash_r2": (lambda: minhash_band_buckets(docs, 16, 8), 1000),
        "minhash_r4": (lambda: minhash_band_buckets(docs, 16, 4), 1000),
        "lsh8": (lambda: lsh_band_buckets(emb, 64, 6, 8), None),
        "lsh12": (lambda: lsh_band_buckets(emb, 64, 6, 12), None),
    }
    print(f"corpus={corpus} docs={docs.count()} vecs={emb.count()} "
          f"loadavg={os.getloadavg()[0]:.2f}", flush=True)
    for name, (build, cap) in FAMS.items():
        if only and name not in only:
            continue
        raw, capped = pair_volumes(build(), cap)
        extra = f"  capped@{cap}={capped}" if cap is not None else ""
        print(f"{name:12s} candidate_pairs={raw}{extra}", flush=True)


if __name__ == "__main__":
    main()
