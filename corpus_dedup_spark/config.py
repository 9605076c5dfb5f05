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
    minhash_seed: int = 1215752193  # any fixed odd-ish seed; drives the (a, b) draws
    # of the one-permutation MinHash (udfs._oph_signatures_from_shingle_sets)

    # candidate hygiene at scale
    max_bucket_size: int = 2000     # LSH buckets above this are sampled + logged (skew cap)
    jaccard_threshold: float = 0.8  # exact-verify acceptance

    def __post_init__(self):
        if self.mode not in ("sentence", "line", "paragraph", "document"):
            raise ValueError(f"bad mode {self.mode!r}")
        if self.lsh_bands * self.lsh_rows != self.num_perm:
            raise ValueError("lsh_bands * lsh_rows must equal num_perm")

    def config_hash(self) -> str:
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
