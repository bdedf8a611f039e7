"""Pipeline configuration.

Mirrors the knobs of the reference's inference path (threshold, flat_ner,
multi_label, max_width — reference gliner/config.py:17, model.py:2333) plus
the Spark-execution knobs we own (partitioning, arrow batch size, linking
thresholds, skew salting).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # --- scoring semantics (reference parity knobs) ---
    max_width: int = 12          # reference config.py:17 (max span width, tokens)
    threshold: float = 0.5      # sigmoid threshold (evaluate_ner.py:171)
    flat_ner: bool = True        # greedy non-overlap mode (decoder.py:92-137)
    multi_label: bool = False
    rel_threshold: float = 0.5  # relation sigmoid threshold
    adjacency_threshold: float = 0.5
    adjacency_mode: str = "all_pairs"  # 'all_pairs' (config.py:217 relations_layer="none") | 'dot'
    max_pairs_per_doc: int = 512  # bound the per-doc E×E pair blowup at scale
    rel_context_window: int = 6   # tokens between head/tail used as pair context

    # --- deterministic encoder ---
    dim: int = 256               # embedding dim of the hash encoder
    seed: int = 42
    score_scale: float = 16.0    # logits = (dot - score_bias) * score_scale
    score_bias: float = 0.75

    # --- KG triple scoring ---
    kg_interaction: str = "complex"  # core/heads.KG_INTERACTIONS selector
    kg_embed_dim: int = 8            # hash-embedding dim for triple scoring

    # --- linking / canonicalization ---
    link_shingle_size: int = 3
    link_jaccard_threshold: float = 0.60
    link_minhash_rows: int = 16     # minhash signature length
    link_minhash_bands: int = 4     # LSH bands (rows/bands hashes per band)
    link_max_block_size: int = 1000  # blocks larger than this get salted/split
    cc_max_iterations: int = 20
    # cluster profile: reliable (checkpoint-dir-backed) lineage cuts in the
    # CC loop. localCheckpoint (default) stores blocks on executors — fine
    # in local mode, but an executor loss mid-loop kills the job on a real
    # cluster; set True + cc_checkpoint_dir=hdfs://... there.
    cc_reliable_checkpoint: bool = False
    cc_checkpoint_dir: str = ""

    # --- Spark execution ---
    arrow_max_records: int = 2048
    # >0: calibrate maxRecordsPerBatch from measured doc bytes so one Arrow
    # batch ~ this many MB (reference serve/memory.py analog; core/batching).
    # Default ON at 32 MB since the mapInArrow flagship port (r5): with the
    # column-sized docs in the sandbox this resolves to the 65536-row cap
    # (measured throughput-neutral-to-positive, BENCH.md r5); with ~1 MB web
    # docs Spark's blind 10000-row default would be a 10 GB Arrow batch —
    # the calibration is the memory bound that keeps the 100 TB run alive.
    # 0 disables (pre-r5 behavior: plain arrow_max_records).
    arrow_target_mb: int = 32

    # --- lineage / resume ---
    lineage_buckets: int = 64    # pmod(hash(doc_id), B) resume granularity

    extra_spark_conf: dict = field(default_factory=dict)
