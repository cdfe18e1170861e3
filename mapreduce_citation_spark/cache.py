"""Corpus-sized cache policy, in one place.

The r6-measured rule (CLAUDE.md): a CORPUS-sized reuse table is cached
with ``persist(MEMORY_AND_DISK)`` — columnar, evictable, spills under
pressure — never ``localCheckpoint``, which pins deserialized rows in
the block manager (r12 verdict #3 found two corpus-sized violations).
``localCheckpoint`` remains the right tool for TINY tables referenced
from multiple plan branches (it deduplicates the subtree outright) and
for per-iteration lineage truncation in iterative operators.

The module exists so the corpus-cache policy lives in one place:
call :func:`cache_corpus` rather than naming a storage level. Every
cache in ``operators/dedup.py`` goes through it, among them the
Hamming signature cache of ``hamming_pairs`` (the SimHash, image-dHash
and audio-fingerprint pair joins), as do the audio MinHash units, the
graph edge list, the IVF assignment and the coordinated-sample orders;
call sites in the other operator modules still spell
``MEMORY_AND_DISK`` themselves.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def cache_corpus(df: DataFrame) -> DataFrame:
    """Cache a corpus-sized reuse table: evictable columnar storage."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)
