"""Pipeline configuration.

One frozen config object for the whole pipeline, mirroring the reference's
single-`Config` design (reference: src/main/scala/deduplication/Config.scala:20-24
holds maxProcessingTime / ttl / pollStrategy; ours holds the signature and
verification geometry plus the ledger timing knobs).

Every stage is a pure function of (input snapshot, config) — all randomness
is derived from `seed` so re-runs are byte-deterministic (required for the
resume protocol, SURVEY.md section 2.3 invariant 1/4).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling / MinHash / LSH ---
    shingle_k: int = 9              # char-shingle width (FIXTURES.md: k=9)
    num_perm: int = 128             # MinHash signature length
    bands: int = 32                 # LSH bands
    rows_per_band: int = 4          # bands * rows_per_band == num_perm
    # --- SimHash (64-bit; text is always normalized before shingling:
    # lowercase + collapsed whitespace, as the DuckDB oracle does) ---
    hamming_radius: int = 3         # Hamming-ball radius for near-dup candidates
    # --- verification ---
    lcs_min_chars: int = 60         # absolute LCS floor
    lcs_min_ratio: float = 0.25     # LCS >= ratio * min(len_a, len_b)
    jaccard_floor: float = 0.50     # exact-Jaccard fast-accept threshold
    # --- skew handling ---
    bucket_cap: int = 64            # LSH bucket size above which we star-link
    # hard cap on per-bucket pair emission for sub-cap buckets (C(64,2)=2016
    # fits). Truncation keeps the FIRST pairs of the sorted expansion, which
    # begin with the complete star of the smallest member — so a truncated
    # bucket stays connected and clustering recall is preserved.
    max_bucket_pairs: int = 2048
    # --- ledger (graft of reference Config.scala:20-24) ---
    max_processing_time_s: float = 3600.0   # claim staleness -> Timeout
    ttl_s: float | None = None              # completed-row expiry; None = never
    # --- execution ---
    seed: int = 42
    arrow_max_records_per_batch: int = 512  # fat `content` rows; keep batches small
    shuffle_partitions: int = 32
    # auto-compact an appended index table once it accumulates this many
    # segments (ingest maintenance; bounds read fan-in — scan count for
    # partitioned indexes, file-listing roots for flat ones — at
    # O(threshold) regardless of ingest count). Iceberg analogue:
    # rewrite_data_files on a cadence.
    compact_segments: int = 16

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows_per_band ({self.bands}x{self.rows_per_band}) "
                f"must equal num_perm ({self.num_perm})"
            )
        blocks = self.hamming_radius + 1
        if 64 % blocks != 0:
            raise ValueError(
                f"hamming_radius+1 ({blocks}) must divide 64 for block keying"
            )
        if self.max_bucket_pairs < self.bucket_cap - 1:
            raise ValueError(
                f"max_bucket_pairs ({self.max_bucket_pairs}) must be >= "
                f"bucket_cap-1 ({self.bucket_cap - 1}) to keep a truncated "
                "bucket's star edges intact (connectivity safety)"
            )

    def jaccard_floor_gate(self) -> float:
        """est-Jaccard below which the Jaccard accept branch is statistically
        impossible: 4 sigma under jaccard_floor at this signature length
        (P < 4e-5 for a true at-floor pair). Shared by the verify stage
        (skip exact Jaccard) and prepare_pairs, whose winnowed-fingerprint
        screen applies only to pairs whose sole possible accept path is LCS.
        This gate on the Jaccard branch is the only probabilistic cut
        before verify: the fingerprint screen never drops a pair the LCS
        branch would accept."""
        sd = (
            self.jaccard_floor * (1.0 - self.jaccard_floor) / self.num_perm
        ) ** 0.5
        return max(0.0, self.jaccard_floor - 4.0 * sd)

    def config_hash(self) -> str:
        """Stable fingerprint of the config — part of lineage rows, and the
        guard that a resumed run uses the same geometry as the original
        (same role as the reference's requirement that `id` semantics never
        change under one contextId, README.md:14-20)."""
        payload = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
