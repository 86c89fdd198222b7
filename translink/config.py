"""Pipeline configuration.

Mirrors the reference's config surface (``src/config.rs:64-105`` +
``config.example.yaml:1-63``): similarity threshold, sample-size bounds, and
performance-mode presets (``src/main.rs:88-121`` chooses sample sizes, channel
capacities and batch sizes per mode; our analog chooses shuffle partitions and
Arrow batch sizes).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field, asdict


@dataclass(frozen=True)
class LinkConfig:
    """All knobs of the linkage pipeline.

    Defaults are calibrated for the synthetic transcript fixtures
    (FIXTURES.md) and hold at scale: every bound exists to keep per-row,
    per-block and per-partition cost independent of total input size.
    """

    # ---- canonicalization (stage 0) -------------------------------------
    # Cap per-turn text taken into the canonical digest text. The reference
    # bounds sampled content the same way (<=64 KiB statistical sample,
    # src/pipeline/stats.rs:109-115; 3x8 KiB quick-check samples,
    # src/pipeline/streaming_quickcheck.rs:126-160).
    turn_text_cap: int = 4096
    # Drop conversations with fewer turns (reference: min_file_size filter,
    # src/pipeline/metadata.rs:32-37).
    min_turns: int = 1

    # ---- signatures (stage 1) -------------------------------------------
    num_hashes: int = 64          # MinHash signature length
    shingle_size: int = 3         # word n-gram shingle width
    # ---- blocking (stage 2) ---------------------------------------------
    length_bucket: int = 16       # total_chars // length_bucket blocking attr
    # Attribute blocking acts as the SHORT-TEXT fallback in the full
    # pipeline: conversations under this many chars have too few shingles
    # for reliable MinHash-LSH, so they get O(block^2) attribute candidates;
    # longer conversations rely on LSH alone (their attribute blocks would
    # contribute mostly random pairs at quadratic cost). None = no gate.
    attr_max_chars: int | None = 512
    lsh_bands: int = 16           # bands (rows = num_hashes // bands)
    max_block_size: int = 64      # salt fan-out bound per block (P8 skew guard)
    # 'rank' = sorted-neighborhood chunking (sort-adjacent records share a
    # sub-block, so oversized blocks preferentially sacrifice UNLIKELY
    # pairs — pairs completeness 0.898 vs 0.245 for scattering; see
    # translink/blocking.py). 'hash' = stateless xxhash64(id) striping,
    # kept for callers whose blocks have no similarity-correlated order
    # (e.g. semantic-dedup k-means cells, translink/ann.py).
    salt_mode: str = "rank"
    # ---- meta-blocking (token lane; translink/metablocking.py) ----------
    # chars of canonical text feeding the token-blocking keys (bounds
    # per-record key fan-out and blocking-graph degree)
    meta_text_cap: int = 512
    # block purging bound: token blocks larger than this are dropped
    # wholesale (stop-word blocks — quadratic cost, near-zero evidence);
    # this purge IS the token lane's skew bound (no salt needed)
    meta_purge_size: int = 64
    # block FILTERING (Papadakis et al., EDBT 2016): per record keep only
    # its r most-selective keys (smallest blocks first). Bounds the key
    # table to O(records x r) and keeps each record's best evidence when
    # records carry MANY keys of mixed selectivity (binds on the document
    # corpus). It cannot conjure selectivity that does not exist: on a
    # saturated-vocabulary corpus where EVERY shingle is hot (the sf0.1
    # synthetic transcripts: ~27 keys/record, median block 304) the lane
    # has no rare keys to keep and twin recall collapses — that regime is
    # detected cheaply by blocking_volume_forecast (kept rows collapse)
    # + meta_blocking_eval, and is the MinHash-LSH lane's home turf (it
    # estimates FULL-set Jaccard without needing any rare key).
    meta_keys_per_record: int = 32
    # CNP pruning: per node keep its top-k weighted neighbors (union rule)
    meta_top_k: int = 10
    # opt-in third candidate lane of run_pipeline: CNP-pruned shingle
    # meta-blocking pairs union with the attribute + LSH lanes (recall
    # insurance for pairs whose MinHash bands all miss; off by default —
    # the fixture F1 gate holds without it)
    use_meta_lane: bool = False
    # ---- pre-flight pair budget (P8/T4 backpressure analog) -------------
    # Max candidate pairs ANY one blocking lane may forecast before the
    # pipeline pays for the self-join. When set, run_pipeline prices each
    # lane's exact fan-out from block sizes alone (blocking.volume_forecast,
    # O(records) work predicting O(pairs)) and raises PairBudgetExceeded
    # BEFORE generating a single pair — the bounded-channel backpressure of
    # the reference (src/main.rs:141-146) applied to shuffle volume. None
    # (default) = forecast-free run.
    pair_budget: int | None = None
    # ---- scoring (stage 4) ----------------------------------------------
    # cap text length for O(n*m) Levenshtein: the quadratic term dominates
    # pair scoring (measured 67s of a 96s stage at cap=512, 63k pairs); 256
    # chars on canonical text still spans several turns
    lev_text_cap: int = 256
    jw_text_cap: int = 256        # cap text length for Jaro-Winkler pandas UDF
    w_jaccard: float = 0.4
    w_levenshtein: float = 0.3
    w_jaro_winkler: float = 0.3
    # Edge threshold on the blended score (reference's similarity_threshold
    # default 85.0 on a 0-100 scale, src/pipeline/stats.rs:44).
    threshold: float = 0.70
    # ---- clustering (stage 5) -------------------------------------------
    cc_max_iterations: int = 50
    # ---- streaming ingestion (T5/T6) ------------------------------------
    # How read_signature_store treats a conv_id that arrived in MULTIPLE
    # batches:
    #   'merge'   — union turns, per-(conv_id, turn_idx) latest batch wins.
    #               Correct for split/append delivery; CANNOT represent turn
    #               deletion (a replacement re-delivery with turns removed
    #               keeps the stale turns).
    #   'replace' — the newest batch fully replaces earlier ones.
    #   'auto'    — replace when the newest batch is a complete delivery
    #               (contains turn 0 and a contiguous turn range), else merge.
    stream_redelivery: str = "auto"
    # ---- execution ------------------------------------------------------
    shuffle_partitions: int = 32
    arrow_batch_size: int = 10_000

    def validate(self) -> "LinkConfig":
        """Reject invalid knob combinations at startup (the reference
        validates thresholds and rejects out-of-range values,
        ``src/config.rs:64-105``, ``tests/config_test.rs:5-18``)."""
        if not (0.0 <= self.threshold <= 1.0):
            raise ValueError(f"threshold must be in [0, 1], got {self.threshold}")
        if self.lsh_bands <= 0:
            # checked BEFORE the divisibility test: lsh_bands=0 must raise
            # the diagnostic ValueError, not ZeroDivisionError from '%'
            raise ValueError(f"lsh_bands must be positive, got {self.lsh_bands}")
        if self.num_hashes <= 0 or self.num_hashes % self.lsh_bands:
            raise ValueError(
                f"num_hashes ({self.num_hashes}) must be a positive multiple "
                f"of lsh_bands ({self.lsh_bands})"
            )
        if self.num_hashes % 8:
            raise ValueError(
                f"num_hashes ({self.num_hashes}) must be a multiple of 8 "
                f"(byte-lane sketch packs 8 components per long)"
            )
        if self.max_block_size < 2:
            raise ValueError("max_block_size must be >= 2 (blocks of 1 pair nothing)")
        if self.shingle_size < 1:
            raise ValueError("shingle_size must be >= 1")
        w = self.w_jaccard + self.w_levenshtein + self.w_jaro_winkler
        if w <= 0:
            raise ValueError("similarity weights must sum to > 0")
        if self.salt_mode not in ("hash", "rank"):
            raise ValueError(f"salt_mode must be 'hash' or 'rank', got {self.salt_mode!r}")
        if self.stream_redelivery not in ("auto", "merge", "replace"):
            raise ValueError(
                "stream_redelivery must be 'auto', 'merge' or 'replace', "
                f"got {self.stream_redelivery!r}"
            )
        if self.min_turns < 0 or self.turn_text_cap < 1 or self.cc_max_iterations < 1:
            raise ValueError("min_turns >= 0, turn_text_cap >= 1, cc_max_iterations >= 1")
        if self.meta_text_cap < 1 or self.meta_purge_size < 2 or self.meta_top_k < 1:
            raise ValueError(
                "meta_text_cap >= 1, meta_purge_size >= 2, meta_top_k >= 1"
            )
        if self.meta_keys_per_record < 1:
            raise ValueError("meta_keys_per_record must be >= 1")
        if self.pair_budget is not None and self.pair_budget < 1:
            raise ValueError(
                f"pair_budget must be >= 1 or None, got {self.pair_budget}"
            )
        return self

    #: Engine schema/semantics version — bump whenever a stage's output
    #: schema or signature family changes (e.g. 2: minhash_sketch replaced
    #: minhash_tagged; 3: linkage side prep ``shingles`` became hashed
    #: ``array<bigint>``). Folded into the checkpoint fingerprint so a resume
    #: NEVER reads a stage written by an incompatible engine version.
    ENGINE_VERSION = 3

    def fingerprint(self) -> str:
        """Deterministic digest of the config + engine version — part of
        every stage's checkpoint identity (resume only reuses a stage
        written under an identical config by the same engine version; F6
        idempotence semantics, src/pipeline/streaming_quickcheck.rs:112-114)."""
        payload = json.dumps(
            {"engine_version": self.ENGINE_VERSION, **asdict(self)},
            sort_keys=True,
        )
        return hashlib.md5(payload.encode()).hexdigest()[:16]

    @property
    def lsh_rows(self) -> int:
        if self.num_hashes % self.lsh_bands:
            raise ValueError("num_hashes must be divisible by lsh_bands")
        return self.num_hashes // self.lsh_bands


#: Env-override prefix (the reference reads DEDUPE_* overrides,
#: ``src/config.rs:64-105``; ours are TRANSLINK_<FIELD>, e.g.
#: TRANSLINK_THRESHOLD=0.8, TRANSLINK_SALT_MODE=rank).
ENV_PREFIX = "TRANSLINK_"


#: TRANSLINK_* names that are runtime/session knobs, not LinkConfig fields —
#: consumed by session.py / bench harnesses, never an error in load_config.
RUNTIME_ENV_VARS = frozenset({
    "TRANSLINK_LOCAL_DIR", "TRANSLINK_IO_CODEC", "TRANSLINK_DRIVER_MEM",
    "TRANSLINK_JAVA_OPTS", "TRANSLINK_BENCH_WORKBASE",
    "TRANSLINK_ARROW_BATCH",
})


def _coerce(name: str, raw: str, annotation: str):
    """Coerce a string override by the field's TYPE ANNOTATION (not the
    current value — a base of None says nothing about the field's type, and
    e.g. TRANSLINK_ATTR_MAX_CHARS over attr_max_chars=None must still
    produce an int)."""
    ann = annotation.replace(" ", "")
    optional = "|None" in ann or ann.startswith("Optional[")
    base = ann.replace("|None", "").replace("Optional[", "").rstrip("]")
    if optional and raw.lower() in ("none", "null", ""):
        return None
    if base == "str":
        return raw
    if base == "bool":
        return raw.lower() in ("1", "true", "yes")
    if base == "int":
        return int(raw)
    if base == "float":
        return float(raw)
    raise ValueError(f"cannot coerce config field {name} ({annotation}) from {raw!r}")


def load_config(
    path: str | None = None,
    env: dict | None = None,
    base: LinkConfig | None = None,
) -> LinkConfig:
    """Build a LinkConfig from (lowest to highest precedence) the ``base``
    defaults, a YAML file, and ``TRANSLINK_*`` environment overrides —
    mirroring the reference's config loading order (file then ``DEDUPE_*``
    env, ``src/config.rs:64-105`` + ``config.example.yaml``). Unknown keys
    are rejected; the result is validated."""
    import dataclasses
    import os as _os

    cfg = base or LinkConfig()
    fields = {f.name: str(f.type) for f in dataclasses.fields(cfg)}
    overrides: dict = {}
    if path:
        import yaml

        with open(path) as fh:
            data = yaml.safe_load(fh) or {}
        if not isinstance(data, dict):
            raise ValueError(f"config file {path} must be a mapping")
        for k, v in data.items():
            if k not in fields:
                raise ValueError(f"unknown config key in {path}: {k!r}")
            overrides[k] = v
    env = dict(_os.environ) if env is None else env
    for k, raw in env.items():
        if not k.startswith(ENV_PREFIX) or k in RUNTIME_ENV_VARS:
            continue
        name = k[len(ENV_PREFIX):].lower()
        if name not in fields:
            # a typo'd override (TRANSLINK_TRESHOLD=...) silently doing
            # nothing is worse than failing fast — same policy as YAML keys
            raise ValueError(
                f"unknown TRANSLINK_* environment override: {k} "
                f"(no LinkConfig field {name!r})"
            )
        overrides[name] = _coerce(name, raw, fields[name])
    return dataclasses.replace(cfg, **overrides).validate()


# Performance-mode presets, analog of the reference's standard/high/ultra
# modes (src/main.rs:88-121, USAGE.md:257-261). On a real cluster these would
# scale executor counts; locally they scale shuffle partitions & batch sizes.
PROFILES: dict[str, LinkConfig] = {
    "standard": LinkConfig(shuffle_partitions=32, arrow_batch_size=5_000),
    "high": LinkConfig(shuffle_partitions=64, arrow_batch_size=10_000),
    "ultra": LinkConfig(shuffle_partitions=128, arrow_batch_size=20_000),
}
