"""DNA k-mer operators — the reference's own application domain.

BioPIM/PimBloomFilters exists to answer k-mer membership queries over
genomic sequence sets (insert a reference genome's k-mers into a Bloom
filter, probe the k-mers of sequencing reads; see the reference benchmarks'
key streams). This module provides that workflow natively:

- ``dna_kmers``: every (or every distinct) k-mer of a DNA string column as
  a 2-bit-packed int64 code — an exact BIJECTION for k <= 31 (A=0, C=1,
  G=2, T=3, base-4 big-endian), so set operations over codes equal set
  operations over k-mer strings. Windows containing any non-ACGT byte
  (N, etc.) are dropped, the standard convention. One flat vectorized pass
  per Arrow batch by the shared window coder (``_windows.kmers``): the
  bytes come straight from the Arrow string buffers, a lookup table maps
  them to bases, and every non-ACGT byte (non-ASCII characters included)
  invalidates the windows over it.
- ``synth_dna``: deterministic synthetic genomes whose base at position j
  of sequence i is ``ACGT[((x*x) div 1000) % 4]``, x = i*211 + j*stride +
  shift — an arithmetic closed form BOTH engines can compute, so the
  driver's DuckDB oracle reproduces every k-mer code exactly without
  sharing any code with the operator.

The membership gate composes these with the ordinary Bloom build/probe:
reference k-mers -> filter -> probe read k-mers, per-read match counts
exact at the gated zero-FP geometry (the reference's read-screening loop,
re-expressed as two scans and a shipped filter — no join of the reads
against the reference set ever happens).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from .._arrow import row_ids
from ._windows import kmers


def _check_k(k: int) -> None:
    """Plan-time guard: 2-bit packing is a bijection only for k <= 31."""
    if not (1 <= k <= 31):
        raise ValueError(f"k must be 1..31 (2-bit packing), got {k}")


def dna_kmers(df: DataFrame, seq_col: str = "seq", k: int = 21,
              id_col: str = "seq_id", canonical: bool = False) -> DataFrame:
    """(seq_id, kmer long): DISTINCT 2-bit-packed k-mers per sequence.
    k <= 31 so the packing is a bijection into int64; windows containing a
    non-ACGT byte are dropped; ``canonical=True`` counts strand-insensitive
    min(kmer, revcomp) codes. Linear mapInArrow scan — the 100 TB shape is
    a single pass over the sequence set, exactly like the text-gram
    extractors."""
    _check_k(k)

    def _km(batches):
        for b in batches:
            ids = row_ids(b)
            packed, starts, rows = kmers(b.column(1), k, canonical)
            out_ids = ids[np.repeat(rows, np.diff(np.r_[starts, packed.size]))]
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids), pa.array(packed.view(np.int64))],
                names=["seq_id", "kmer"])

    return df.select(id_col, seq_col).mapInArrow(
        _km, "seq_id long, kmer long")


def synth_dna(spark: SparkSession, n_seqs: int = 500, seq_len: int = 200,
              shift: int = 0, id_offset: int = 0,
              stride: int = 37) -> DataFrame:
    """(seq_id, seq): deterministic genomes — base j of sequence i is
    ``ACGT[((x*x) div 1000) % 4]`` with ``x = i*211 + j*stride + shift``, a
    closed form the SQL oracle recomputes exactly (the square's carry
    propagation de-periodizes the mod-4 residues; a linear form would
    collapse every sequence to an ACGT rotation). The residues are periodic
    in x mod 2000, so a constant ``shift`` stays INSIDE the population — a
    different ``stride`` (the per-position step) is what yields a DISJOINT
    k-mer population (contaminant reads; measured: stride 41 shares zero
    21-mers with the stride-37 set). ``id_offset`` relabels AND re-seeds
    (content is a pure function of the final seq_id). Built as ONE array
    expression per row (transform + array_join), so base order is
    positional by construction — no Python, no aggregation."""
    bases = F.array(*[F.lit(c) for c in "ACGT"])
    arr = F.transform(
        F.sequence(F.lit(0), F.lit(seq_len - 1)),
        lambda j: F.element_at(
            bases,
            (((F.col("id") * 211 + j * stride + F.lit(shift))
              * (F.col("id") * 211 + j * stride + F.lit(shift)))
             .cast("long") % 4000 / 1000).cast("int") + 1),
    )
    # range over the FINAL ids so content is a pure function of seq_id
    return spark.range(id_offset, id_offset + n_seqs).select(
        F.col("id").alias("seq_id"), F.array_join(arr, "").alias("seq"))


def kmer_minhash_signatures(df: DataFrame, k: int = 21,
                            seq_col: str = "seq", id_col: str = "seq_id",
                            num_hashes: int = 256, seed: int = 7,
                            canonical: bool = True) -> DataFrame:
    """(seq_id, sig array<long>): MinHash signature over each sequence's
    distinct (canonical) k-mer set — the Mash sketch (Ondov et al. 2016,
    "Mash: fast genome and metagenome distance estimation using MinHash"):
    signature agreement estimates k-mer Jaccard, from which the Mash
    distance d = -ln(2j/(1+j))/k follows. Reuses the dedup module's
    splitmix-stream signature machinery over the packed k-mer codes — one
    linear scan per sequence set, signatures are ``num_hashes`` longs
    however large the genome."""
    from .dedup import _minhash_signatures

    _check_k(k)
    return _minhash_signatures(
        df, id_col, seq_col, lambda col: kmers(col, k, canonical),
        num_hashes, seed, False).withColumnRenamed("doc_id", "seq_id")


def mash_distance(jaccard, k: int = 21):
    """Column: Mash distance d = -ln(2j/(1+j))/k (Ondov et al. 2016, eq. 4)
    from a k-mer Jaccard (estimate or exact) — the mutation-rate scale
    biologists actually compare genomes on (j=1 -> d=0; j->0 -> d->inf,
    capped by callers if needed). A single fixed-shape float expression
    tree, so identical inputs produce bit-identical distances on any
    engine (the oracle-gate property)."""
    j = jaccard if not isinstance(jaccard, str) else F.col(jaccard)
    return -F.log(F.lit(2) * j / (F.lit(1) + j)) / F.lit(k)
