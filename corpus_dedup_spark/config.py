"""Pipeline configuration + config hashing for lineage.

The shingle/signature config hash is recorded in every lineage row so a resumed run can
detect config drift (north rule: "per-partition lineage rows (partition id, input span,
signature config hash, counters)").
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupConfig:
    """Full configuration of the dedup pipeline.

    Defaults mirror the reference CLI defaults (mode=sentence, max_length=0 i.e.
    unlimited — ref: src/config.c:4, src/include/config.h:12) plus standard
    MinHash/LSH parameters for the near-dup extension.
    """

    # reference-parity knobs
    mode: str = "sentence"          # sentence | line | paragraph | document
    max_length: int = 0             # truncate normalized unit to N BYTES (0 = off)

    # shingling (north-rule near-dup leg)
    shingle_k: int = 3              # units per shingle (w-shingling over U1 units)
    shingle_level: str = "unit"     # "unit" (sentence shingles) | "char" (char n-grams)
    char_ngram: int = 5

    # MinHash / LSH
    num_perm: int = 128
    lsh_bands: int = 32             # 32 bands x 4 rows: s-curve threshold ~0.42
    lsh_rows: int = 4
    minhash_seed: int = 1215752193  # any fixed odd-ish seed; drives (a, b) draws
    # "oph": one-permutation hashing (Li et al. 2012) + hashed-permutation
    # OPTIMAL densification (Shrivastava, ICML 2017) — one pass over the shingles
    # instead of num_perm passes; ~10x less memory traffic (the classic scheme
    # saturates the memory bus at high core counts). Rotation densification
    # (Shrivastava & Li 2014) was measured here to correlate adjacent bins on
    # sparse sets and inflate candidates 31x — see udfs._optimal_densify; it is
    # used only as the probe-exhausted tail fallback. "classic":
    # per-permutation multiply-shift minhash.
    # Both are pure functions of the shingle set: identical sets ⇒ identical
    # signatures, so the exact-duplicate floor holds under either scheme.
    minhash_scheme: str = "oph"

    # candidate hygiene at scale
    max_bucket_size: int = 2000     # LSH buckets above this are sampled + logged (skew cap)
    jaccard_threshold: float = 0.8  # exact-verify acceptance

    def __post_init__(self):
        if self.mode not in ("sentence", "line", "paragraph", "document"):
            raise ValueError(f"bad mode {self.mode!r}")
        if self.lsh_bands * self.lsh_rows != self.num_perm:
            raise ValueError("lsh_bands * lsh_rows must equal num_perm")
        if self.minhash_scheme not in ("oph", "classic"):
            raise ValueError(f"bad minhash_scheme {self.minhash_scheme!r}")

    def config_hash(self) -> str:
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
