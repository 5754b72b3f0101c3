"""End-to-end CLK linkage pipeline: encode → block → score → cluster.

One stage graph serves dedup of one table (:func:`run_linkage`) and
linkage of two parties (:func:`run_linkage_two_party`): ``clks``
(``clks_a``/``clks_b``) → ``blocks`` → ``pairs`` → ``clusters``. Each
clks stage table stores the record's int64 key id (``_kid``) next to
its CLK, and one aggregate then checks that no two records share an id
(:func:`_check_unique_kids`). The party count changes four things:

- the int64 key id: ``xxhash64(key)`` for one table; the 63-bit
  ``xxhash64(key) >>> 1`` with party B in the sign bit for two;
- the pair predicate: ``key_a < key_b`` vs the kid's sign;
- the pair orientation: least/greatest user key vs fixed A/B;
- 1-1 matching, for two parties only.

One materialization rule, owned by ``_StageRunner``: ``blocks`` is
hash-partitioned by ``block_key`` and persisted, so the skew cap and
both pair-join sides reuse one exchange; every other stage is a lazy
``localCheckpoint``, or with a StageStore its parquet read-back. One
action makes and counts each stage (a ``noop`` or the parquet write),
so a StageStore run starts the in-memory run's jobs. A scratch cache
is released when the stage that made it ends, unless it is that
stage's output; a resumed stage restores the metrics its build added.

Two stages keep their Spark actions few. ``blocks`` certifies the skew
cap with one query, the oversized blocks' sizes: normally empty, and
joined back only when not. ``clusters`` labels the pair graph's
components and joins the labels onto every record once, by vertex id
(:func:`~.operators.cluster.cluster_records`), computed from the user
key and unique because the checked key ids are.

With ``checkpoint_dir`` set, stage tables are parquet directories with
a JSON manifest (`_clkhash_manifest.json`) — the sandbox stand-in for
Iceberg snapshot tables; on a real cluster swap :class:`StageStore` for
Iceberg ``writeTo``/snapshots without touching the operator code. A
stored stage resumes when its fingerprint — its own settings chained
with its parents' fingerprints (:func:`_stage_fingerprint`) — matches.
An in-memory input has no source files to identify it, so a store run
over one must set ``input_fingerprint``.
"""

from __future__ import annotations

import functools
import hashlib
import json
import math
import os
import time
import warnings
from dataclasses import dataclass, field, replace
from typing import Any, Dict, List, Optional, Sequence, Union

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .core.schema import Schema
from .operators._util import materialize
from .operators.blocking import block_keys, cap_block_size
from .operators.cluster import cluster_records
from .operators.encode import encode_clks
from .operators.scoring import (
    candidate_pairs, one_to_one_matching, score_candidates,
)

__all__ = ["KeyIdCollisionError", "LinkageConfig", "LinkageResult",
           "StageStore", "estimate_bit_agreement", "run_linkage",
           "run_linkage_two_party", "tuned_blocking",
           "WEBPAGES_SCHEMA_DICT", "webpages_schema"]


# Default linkage schema for the north-rule web-pages table: the page text
# as 4-grams under doubleHash (1024-bit CLK). 4-grams ≈ word-piece level —
# measured on the synthetic fixture, unrelated-page Dice tops out ~0.50
# while near-duplicates stay ≥0.83, so thresholds in [0.6, 0.8] separate
# cleanly (2-grams of web text share too small a universe: unrelated Dice
# reaches 0.88). bitsPerFeature keeps popcount roughly length-independent,
# which stabilizes Dice across page sizes.
WEBPAGES_SCHEMA_DICT: Dict[str, Any] = {
    "version": 3,
    "clkConfig": {
        "l": 1024,
        "kdf": {"type": "HKDF", "hash": "SHA256", "keySize": 64},
    },
    "features": [
        {
            "identifier": "text",
            "format": {"type": "string", "encoding": "utf-8"},
            "hashing": {
                "comparison": {"type": "ngram", "n": 4},
                "strategy": {"bitsPerFeature": 400},
                "hash": {"type": "doubleHash"},
            },
        }
    ],
}


def webpages_schema() -> Schema:
    from .core.schema import from_json_dict

    return from_json_dict(WEBPAGES_SCHEMA_DICT)


# Band-count search grid: banded-row volume (the dominant pipeline
# shuffle — b skinny rows per input record) is proportional to b, so
# the tuner walks this grid upward and stops at the first band count
# whose budget-derived bit depth still predicts the recall target.
_BAND_GRID = (16, 20, 24, 28, 32, 40, 48, 56, 64, 80, 96, 128, 192, 256,
              384, 512)
# Scored-candidate budget per row the bit depth is sized for.
_TARGET_CANDIDATES_PER_ROW = 20.0
# Recall floor of the band search, derived from the F1 >= 0.99 gate with
# margin for the model's measured ~2x error band (see tuned_blocking).
_TARGET_RECALL = 0.9925
# Per-bit agreement of a marginal duplicate pair. CALIBRATED against
# measured recall, not assumed: a round-4 counter-verified A/B at 600k
# rows (local[8], r=24) measured pair-miss 0.0099 at b=64 and 0.0201 at
# b=48, plus 0.0241 at b=56/r=26 — no value fits all three exactly
# (duplicate agreement is a DISTRIBUTION with a Dice≈0.76 tail, not a
# point), but 0.91 stays within ~2x of every measurement (0.93, the
# typical-pair value, under-predicted the tail's misses 15x and let the
# search cut bands straight through the F1 gate: 0.9899 measured at
# b=48).
_DUPLICATE_AGREEMENT = 0.91


def _band_recall(bands: int, bits: int, min_band_matches: int,
                 duplicate_agreement: float) -> float:
    """``P(Binom(bands, a_d^bits) >= min_band_matches)``: the chance a
    duplicate whose bits agree with probability ``a_d`` collides in at
    least ``min_band_matches`` of ``bands`` bands (0 when there are
    fewer bands than that)."""
    p = duplicate_agreement ** bits
    return 1 - sum(math.comb(bands, k) * p ** k * (1 - p) ** (bands - k)
                   for k in range(min_band_matches))


def tuned_blocking(
    n_rows: int,
    num_bands: Optional[int] = None,
    unrelated_agreement: float = 0.57,
    duplicate_agreement: float = _DUPLICATE_AGREEMENT,
    min_band_matches: int = 2,
) -> Dict[str, int]:
    """Scale-aware LSH band sizing.

    Two CLK bits of *unrelated* records agree with probability
    ``1 - 2f(1-f)`` (~0.57 at fill 0.32) regardless of content, so
    spurious candidates grow with n² while true pairs grow with n.
    Holding candidates to ``_TARGET_CANDIDATES_PER_ROW · n`` (20 · n):

    - ``min_band_matches=1``: leakage ``≈ n²/2 · b·a_u^r`` →
      ``r ≈ log(2·target/(n·b)) / log(a_u)`` (22 bits ≈ 100k rows,
      44 ≈ 10^10 — steep).
    - ``min_band_matches=2`` (default): leakage
      ``≈ n²/2 · (b·a_u^r)²/2`` — quadratic suppression →
      ``r ≈ log(2·sqrt(target/n)/b) / log(a_u)`` (16 bits ≈ 1M rows,
      28 ≈ 10^12 — CLK-bit LSH stays viable at web scale).

    Recall per true pair (worst-case band agreement for a marginal
    duplicate): ``P(Binom(b, a_d^r) ≥ m)``, the exact binomial tail for
    any ``m`` (:func:`_band_recall`).

    ``num_bands=None`` (default) *searches* the band count: every
    banded row is shuffle volume (b rows per record through the blocks
    exchange — the pipeline's dominant mover, 1.49 GB at 2M rows under
    the old fixed b=64), so the tuner picks the SMALLEST band count on
    ``_BAND_GRID`` meeting the recall target — never more bands than
    the (calibrated) model needs, never fewer than the F1 gate allows,
    and never fewer than ``m`` (such a count has recall 0).

    The recall target itself is volume-aware: the allowed per-pair miss
    probability is ``min(1 - _TARGET_RECALL, max(1e-5, n/1e8))`` — a
    marginal band costs O(n) shuffle but buys a fixed per-pair recall
    increment, so small inputs (where bands are nearly free) are held
    to near-certainty (miss ≤ 1e-5: pinned small-fixture oracles stay
    exact) while large inputs settle at the ``_TARGET_RECALL`` floor
    (0.9925, derived from the F1 ≥ 0.99 gate with margin for the
    model's measured ~2x error band — see ``duplicate_agreement``).
    With the tail-calibrated model this search CUTS bands only below
    ~20k rows and ADDS them at scale (64 → 80-128 over 100k-4M rows):
    the round-4 A/B that motivated the calibration measured F1 0.9899
    (below gate) when bands were cut 64→48 at 600k.

    An explicit ``num_bands`` is used as given, with the law's bit
    depth for that count; ``predicted_recall`` reports what it buys.
    """
    # The binding constraint is the block-join OUTPUT volume
    # (n²/2 · b · a_u^r skinny rows), which min_band_matches does NOT
    # reduce — it only filters what gets scored. Bound the join at 3x
    # the scored target per row; the ≥2-band rule then makes the scored
    # set essentially pure. Measured at 600k rows (A/B, local[8]): the
    # 10x budget picked r=21 (pairs stage 68 s, F1 0.99813); 3x picks
    # r=23 (pairs 20 s — 3.4x faster — F1 0.99654). The extra bit-depth
    # costs only marginal (Dice≈0.76) pairs; doubling bands instead
    # recovers them but doubles banded-row volume for ~zero net wall
    # win on this workload.
    join_budget_per_row = 3.0 * _TARGET_CANDIDATES_PER_ROW

    def r_for(bands: int) -> int:
        frac = 2.0 * join_budget_per_row / (n_rows * bands)
        r = math.ceil(math.log(frac) / math.log(unrelated_agreement))
        return max(14, min(r, 48))

    def predicted_recall(bands: int) -> float:
        return _band_recall(bands, r_for(bands), min_band_matches,
                            duplicate_agreement)

    # Volume-aware miss budget (see docstring): near-certainty when
    # bands are cheap, a gate-derived ceiling when they are the
    # dominant shuffle (P=1 linkage needs recall >= 0.9803 for
    # F1 >= 0.99; the 0.0075 ceiling leaves ~2.6x margin for the
    # model's measured error band).
    allowed_miss = min(1.0 - _TARGET_RECALL, max(1e-5, n_rows / 1e8))

    bands = num_bands if num_bands is not None else next(
        (b for b in _BAND_GRID if 1 - predicted_recall(b) <= allowed_miss),
        _BAND_GRID[-1],
    )
    return {
        "num_bands": bands,
        "bits_per_band": r_for(bands),
        "predicted_recall": round(predicted_recall(bands), 6),
        "min_band_matches": min_band_matches,
    }


@dataclass
class LinkageConfig:
    schema: Schema
    secret: Union[str, bytes]
    key_col: str = "url"
    feature_cols: Optional[Sequence[str]] = None
    # Dice ≥ 0.75 keeps near-dups (≥0.83 on fixtures) and rejects unrelated
    # pages (≤0.50 at 4-gram encoding).
    threshold: float = 0.75
    # None (default) = auto-tune from the materialized CLK count via
    # tuned_blocking(n) — spurious-candidate volume grows n² while true
    # pairs grow n, so band geometry MUST scale with input size; fixed
    # values tuned at 100k rows melt down at 10M. Set explicitly to pin.
    num_bands: Optional[int] = None
    bits_per_band: Optional[int] = None
    # Require >=2 band collisions before a pair is scored: quadratic
    # suppression of spurious candidates (see candidate_pairs) at ~0.1%
    # recall cost for marginal (Dice~0.76) duplicates.
    min_band_matches: int = 2
    lsh_seed: int = 42
    lsh_salt: int = 0
    max_block_size: int = 2000
    validate: bool = False
    checkpoint_dir: Optional[str] = None
    # The inputs' identity in the clks stages' fingerprints, so a resume
    # never reuses stages computed from other data. Defaults to the
    # input's source files + schema; an in-memory input has no files,
    # so a run with checkpoint_dir must set it (e.g. a data version).
    input_fingerprint: Optional[str] = None


@dataclass
class LinkageResult:
    clks: DataFrame
    blocks: DataFrame
    pairs: DataFrame
    clusters: DataFrame
    metrics: Dict[str, Any] = field(default_factory=dict)
    # The config actually executed — banding resolved (never None).
    config: Optional[LinkageConfig] = None


class StageStore:
    """Parquet-with-manifest stage checkpointing (Iceberg stand-in).

    Each stage writes to ``<root>/<stage>/`` and records a manifest entry
    (row count, schema, fingerprint, lineage, restored metrics). A
    completed stage is *resumed* — read back instead of recomputed — when
    its fingerprint matches, which is what makes a killed job cheap to
    restart.
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.manifest_path = os.path.join(root, "_clkhash_manifest.json")
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as fp:
                self.manifest = json.load(fp)
        else:
            self.manifest = {"stages": {}}

    def _save_manifest(self) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as fp:
            json.dump(self.manifest, fp, indent=2)
        os.replace(tmp, self.manifest_path)

    def has(self, stage: str, fingerprint: str) -> bool:
        entry = self.manifest["stages"].get(stage)
        # an entry without a schema predates the stored schema: recompute
        return bool(entry and entry.get("fingerprint") == fingerprint
                    and entry.get("complete") and entry.get("schema"))

    def read(self, stage: str) -> DataFrame:
        # the stored schema: no schema-inference job
        schema = StructType.fromJson(
            json.loads(self.manifest["stages"][stage]["schema"]))
        return self.spark.read.schema(schema).parquet(
            os.path.join(self.root, stage))

    def write(
        self, stage: str, df: DataFrame, fingerprint: str,
        lineage: Dict[str, str], metrics: Dict[str, Any],
    ) -> int:
        """Write a stage table in one action and return its row count;
        ``lineage`` maps each parent stage to its fingerprint — the audit
        trail an Iceberg snapshot chain would carry — and ``metrics``
        holds the values a resumed run restores."""
        path = os.path.join(self.root, stage)
        rows = materialize(df, path)["rows"]
        self.manifest["stages"][stage] = {
            "fingerprint": fingerprint,
            "rows": rows,
            "schema": df.schema.json(),
            "complete": True,
            "lineage": lineage,
            "metrics": metrics,
        }
        self._save_manifest()
        return rows


# Partition budget for the banded-rows exchange: skinny (long, long)
# rows at ~16 B payload → ~4M rows ≈ 64 MB serialized per partition,
# comfortably in-memory through the cap join and pair self-join.
_BANDED_ROWS_PER_PARTITION = 4_000_000


def _banded_partitions(spark: SparkSession, banded_rows: int) -> int:
    """Partition count for the single banded-rows exchange.

    The explicit repartition bypasses AQE coalescing, so size it from
    the known volume (rows x bands) instead of the static
    shuffle-partitions conf: at 2M input rows x 64 bands on local[2]
    the static 8 partitions put 16M rows (~256 MB+) in each and the
    blocks stage spent its time spilling. Floor at the session conf
    (never fewer partitions than plain shuffles use), cap at 65536."""
    by_volume = (banded_rows + _BANDED_ROWS_PER_PARTITION - 1) // (
        _BANDED_ROWS_PER_PARTITION
    )
    floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(floor, min(int(by_volume), 65536))


def _input_fingerprint(df: DataFrame) -> Optional[str]:
    """An input's identity: its source files + schema; ``None`` for an
    in-memory input, which has no files."""
    files = sorted(df.inputFiles())
    if not files:
        return None
    basis = json.dumps(
        {"files": files, "schema": df.schema.simpleString()},
        sort_keys=True,
    )
    return hashlib.sha256(basis.encode()).hexdigest()[:16]


def _secret_fingerprint(secret: Union[str, bytes]) -> str:
    raw = secret.encode() if isinstance(secret, str) else bytes(secret)
    return hashlib.sha256(b"clkhash-spark-secret:" + raw).hexdigest()[:16]


def _stage_fingerprint(stage: str, settings: Dict[str, Any],
                       lineage: Dict[str, str]) -> str:
    """A stage's identity: the digest of its name, its own settings and
    the fingerprints of the stages it reads (``lineage``, by name). A
    change anywhere upstream reaches every stage below it through the
    chain, so no stage lists another stage's settings."""
    basis = {"stage": stage, "settings": settings, "lineage": lineage}
    return hashlib.sha256(
        json.dumps(basis, sort_keys=True).encode()
    ).hexdigest()[:16]


def estimate_bit_agreement(clks: DataFrame, key_col: str = "url") -> float:
    """Measured per-bit agreement of *unrelated* CLK pairs.

    The banding law's leakage term is ``a_u^r`` — a 0.05 error in the
    assumed ``a_u`` mis-sizes the candidate volume by an order of
    magnitude at r≈25 (measured at 600k rows: the 0.57 textbook value
    vs ~0.62 actual cost 89M join rows instead of ~9M; shared-vocabulary
    bit correlations push agreement above the fill-only estimate
    ``1-2f(1-f)``). So: measure it.

    Sample = the 2,000 rows with smallest ``xxhash64(key)`` (a seeded,
    partition-independent draw — the same bounded TakeOrdered pattern as
    kmeans_centroids; the corpus is never collected). Pairs (at most
    1,000) are formed by folding the hash-ordered sample in half, so they
    are uniform-random with respect to content; the MEDIAN pair agreement
    is reported, which tolerates up to half the sampled pairs being true
    duplicates. On a corpus so duplicated that even the median lands in
    the duplicate regime (> 0.90), the 25th-percentile agreement — the
    unrelated tail — is returned instead, with a RuntimeWarning, rather
    than letting the downstream clamp pin silently at 0.90.
    """
    rows = (
        clks.select("clk")
        .orderBy(F.xxhash64(F.col(key_col)))
        .limit(2000)
        .collect()
    )
    if len(rows) < 16:
        # Degenerate input (incl. zero rows — np.frombuffer(b"") would
        # raise before any fold): too few pairs to measure; fall back
        # to the fill-based prior.
        return 0.57
    mat = np.unpackbits(
        np.frombuffer(
            b"".join(r["clk"] for r in rows), dtype=np.uint8
        ).reshape(len(rows), -1),
        axis=1,
    )
    half = len(mat) // 2
    agreement = (mat[:half] == mat[half : 2 * half]).mean(axis=1)
    med = float(np.median(agreement))
    if med > 0.90:
        p25 = float(np.quantile(agreement, 0.25))
        warnings.warn(
            "estimate_bit_agreement: median pair agreement "
            f"{med:.3f} is in the duplicate regime (> 0.90) — the "
            "corpus looks majority-duplicated; using the "
            f"25th-percentile agreement {p25:.3f} (the unrelated tail) "
            "for band sizing instead",
            RuntimeWarning,
            stacklevel=2,
        )
        return p25
    return med


def _resolve_banding(
    config: LinkageConfig,
    n_rows: int,
    measured_agreement: Optional[float] = None,
) -> LinkageConfig:
    """Fill in auto (None) band geometry from the materialized row count
    (and the measured unrelated-pair bit agreement, when available)."""
    if config.num_bands is not None and config.bits_per_band is not None:
        return config
    kwargs = {}
    if measured_agreement is not None:
        # Clamp to a sane regime: <0.5 means anti-correlated sampling
        # noise, >0.9 means the "unrelated" sample is mostly duplicates
        # (median swamped) — both would mis-size r wildly.
        kwargs["unrelated_agreement"] = min(max(measured_agreement, 0.50),
                                            0.90)
    tuned = tuned_blocking(
        max(int(n_rows), 1000),
        num_bands=config.num_bands,  # None → search the band grid
        min_band_matches=config.min_band_matches,
        **kwargs,
    )
    return replace(
        config,
        num_bands=tuned["num_bands"],
        bits_per_band=config.bits_per_band or tuned["bits_per_band"],
    )


class _StageRunner:
    """Runs the graph's stages and owns the materialization rule
    (:meth:`_keep`; see the module docstring).

    Why two kinds: under AQE a checkpoint's LogicalRDD loses
    ``outputPartitioning``, which re-inserted the cap's size-aggregate
    and the pair join-side exchanges (round-6 4M-row ladder: a
    285.6M-row aggregate exchange and two 192M-row join-side
    exchanges), while cached plans keep their partitioning. Every other
    stage wants the lineage cut: downstream plans otherwise embed
    several copies of the upstream tree, and Catalyst analysis over
    them cost ~10 s of driver-only gaps per 100k-row run
    (OPTIMIZATION_r06.md). A StageStore's parquet read-back cuts
    lineage the same way; a stored blocks stage writes from its cache
    and keeps it, so only a resumed blocks stage is re-partitioned.
    """

    def __init__(
        self,
        spark: SparkSession,
        config: LinkageConfig,
        metrics: Dict[str, Any],
    ) -> None:
        self.spark = spark
        self.store = (
            StageStore(spark, config.checkpoint_dir)
            if config.checkpoint_dir
            else None
        )
        self.metrics = metrics
        self.fingerprints: Dict[str, str] = {}
        # Set by the graph once banding fixes the banded-row volume.
        self.block_partitions: Optional[int] = None
        self._scratch: List[DataFrame] = []

    def partition_blocks(self, df: DataFrame) -> DataFrame:
        """Hash-partition banded rows by ``block_key`` and persist them,
        as scratch unless the cache becomes the running stage's output."""
        cache = df.repartition(self.block_partitions, "block_key").persist()
        self._scratch.append(cache)
        return cache

    def _keep(self, name: str, df: DataFrame) -> DataFrame:
        if name == "blocks":
            return df if df.is_cached else self.partition_blocks(df)
        if self.store is not None:
            return df  # the stage's write materializes it; read back after
        return df.localCheckpoint(eager=False)

    def run(self, name: str, build, parents=(), **settings) -> DataFrame:
        """Run (or resume) stage ``name``: ``build()`` makes its output
        from the ``parents`` stages and the stage's own ``settings``,
        which with the parents' fingerprints make its fingerprint."""
        lineage = {p: self.fingerprints[p] for p in parents}
        fp = self.fingerprints[name] = _stage_fingerprint(
            name, settings, lineage)
        store, sc = self.store, self.spark.sparkContext
        output = None
        try:
            # Tag every job this stage triggers, a resumed stage's
            # read-back included, with a job group, so the status-store
            # reader (perfbench/telemetry.py) can attribute shuffle
            # records / task time to pipeline stages by the
            # "clk:<stage>" group and description. Restored in the
            # finally below; lazily-consumed upstream work is attributed
            # to the stage whose action forced it, which is the
            # wall-clock-honest attribution.
            sc.setLocalProperty("spark.jobGroup.id", f"clk:{name}")
            sc.setLocalProperty(
                "spark.job.description", f"clkhash stage {name}"
            )
            if store is not None and store.has(name, fp):
                self.metrics[f"{name}_resumed"] = True
                entry = store.manifest["stages"][name]
                self.metrics[f"{name}_rows"] = entry["rows"]
                self.metrics.update(entry["metrics"])
                output = self._keep(name, store.read(name))
                return output
            start, known = time.time(), set(self.metrics)
            df = self._keep(name, build())
            if store is None:
                rows = materialize(df)["rows"]
            else:
                added = {k: v for k, v in self.metrics.items()
                         if k not in known}  # e.g. the cap's accounting
                rows = store.write(name, df, fp, lineage, added)
                if name != "blocks":
                    df = store.read(name)
            elapsed = time.time() - start
            self.metrics.update({f"{name}_rows": rows,
                                 f"{name}_seconds": round(elapsed, 3),
                                 f"{name}_rows_per_sec": round(
                                     rows / elapsed, 1) if elapsed else None})
            output = df
            return df
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            while self._scratch:
                cache = self._scratch.pop()
                if cache is not output:
                    cache.unpersist()


def _key_id(key_col: str, party: Optional[int]) -> Column:
    """The int64 key id (``_kid``): ``xxhash64(key)`` for one table
    (``party`` is ``None``); for two, the 63-bit ``xxhash64(key) >>> 1``
    with party 1 (B) tagged in the sign bit. The two forms stay apart on
    purpose: the skew cap salts split sub-blocks with the kid, so the
    one-table form pins its outputs."""
    if party is None:
        return F.xxhash64(F.col(key_col))
    kid = F.shiftrightunsigned(F.xxhash64(F.col(key_col)), 1)
    return kid.bitwiseOR(F.lit(-(1 << 63))) if party == 1 else kid


class KeyIdCollisionError(ValueError):
    """Two distinct user keys hash to one int64 key id."""


def _check_unique_kids(clks: DataFrame, key_col: str, single: bool) -> None:
    """Raise unless each ``_kid`` of ``clks`` (all clks stage tables) is
    one record's. One aggregate keeps the ids on more than one row,
    normally none; two parties group without the sign bit, so a key in
    both lands in one group. A collision is at most ~n²/2^64 likely."""
    kid = F.col("_kid")
    if not single:
        kid = kid.bitwiseAND(F.lit((1 << 63) - 1))
    # Count only: a min/max buffer over the string keys would turn the
    # hash aggregate into a sort aggregate. Keys are read on failure.
    shared = [row[0] for row in clks.groupBy(kid.alias("_id")).count()
              .where(F.col("count") > 1).limit(5).collect()]
    if not shared:
        return
    groups: Dict[int, List[Any]] = {}
    for row in (clks.select(kid.alias("_id"), key_col)
                .where(F.col("_id").isin(shared)).collect()):
        groups.setdefault(row[0], []).append(row[1])
    repeated = sorted({k for keys in groups.values() for k in keys
                       if keys.count(k) > 1}, key=str)
    if repeated:
        raise ValueError(f"duplicate {key_col!r} values {repeated}: every "
                         f"record needs its own {key_col}")
    first, second = groups[shared[0]][:2]
    raise KeyIdCollisionError(
        f"{key_col!r} values {first!r} and {second!r} hash to one int64 "
        "key id; rename one of them")


def _check_config(config: LinkageConfig, parties: Sequence[DataFrame],
                  inputs: Sequence[Optional[str]]) -> None:
    """Reject an out-of-range field, a missing column or, with a
    StageStore, an input or schema without an identity by name, before
    any Spark job (an out-of-range value otherwise links nothing or
    fails deep inside banding; an input without an identity would resume
    another input's stages)."""
    bands, bits = config.num_bands, config.bits_per_band
    matches = config.min_band_matches
    checks = (
        ("threshold", 0 <= config.threshold <= 1, "[0, 1]"),
        ("num_bands", bands is None or bands >= 1, ">= 1 or None"),
        ("bits_per_band", bits is None or 1 <= bits <= 48, "[1, 48] or None"),
        ("min_band_matches", 1 <= matches <= (bands or matches),
         f"[1, num_bands={bands}]" if bands else ">= 1"),
        ("max_block_size",
         config.max_block_size is not None and config.max_block_size >= 1,
         ">= 1"),
    )
    for name, ok, valid in checks:
        if not ok:
            raise ValueError(f"LinkageConfig.{name}="
                             f"{getattr(config, name)!r} must be {valid}")
    columns = [("key_col", config.key_col)] + [
        ("feature_cols", c) for c in config.feature_cols or () if c]
    for party, df in enumerate(parties):
        for name, col in columns:
            if col not in df.columns:
                raise ValueError(f"LinkageConfig.{name} {col!r} is not a "
                                 f"column of party {party}: {df.columns}")
    if not config.checkpoint_dir:
        return
    if config.schema.doc is None:
        raise ValueError("LinkageConfig.schema has no schema document "
                         "(build it with from_json_dict): a StageStore "
                         "cannot tell it from another schema")
    for party, identity in enumerate(inputs):
        if identity is None:
            raise ValueError(
                f"LinkageConfig.input_fingerprint is needed: party {party} "
                "is an in-memory input (no source files), so a StageStore "
                "cannot tell its data from other data")


def _run_graph(
    spark: SparkSession,
    parties: Sequence[DataFrame],
    config: LinkageConfig,
    one_to_one: Optional[bool] = None,
) -> LinkageResult:
    """The stage graph (module docstring) over one or two parties;
    ``one_to_one`` is ``None`` for one table."""
    inputs = [config.input_fingerprint or _input_fingerprint(df)
              for df in parties]
    _check_config(config, parties, inputs)
    metrics: Dict[str, Any] = {}
    runner = _StageRunner(spark, config, metrics)
    key, kid = config.key_col, "_kid"
    single = len(parties) == 1
    clks_stages = ("clks",) if single else ("clks_a", "clks_b")

    # Work in an int64 key domain through the shuffle-heavy middle
    # stages: banding and the pair join move (long, long) rows instead
    # of (long, url-string) — ~2.5x less shuffle volume. User keys
    # enter only with the CLK payload join, on the few candidates
    # that reach Dice.
    def build_clks(df: DataFrame, party: Optional[int]) -> DataFrame:
        return encode_clks(
            df, config.schema, config.secret, key_cols=(key,),
            feature_cols=config.feature_cols, validate=config.validate,
        ).withColumn(kid, _key_id(key, party))

    clks = [
        runner.run(
            stage, functools.partial(build_clks, df,
                                     None if single else party),
            schema=config.schema.doc,
            secret=_secret_fingerprint(config.secret), key_col=key,
            feature_cols=config.feature_cols, validate=config.validate,
            input=identity)
        for party, (stage, identity, df) in enumerate(
            zip(clks_stages, inputs, parties))
    ]
    all_clks = functools.reduce(DataFrame.unionByName, clks)
    # Resumed clks are checked too: a run that raised here stored them.
    _check_unique_kids(all_clks, key, single)

    # Band geometry must scale with n (candidate volume grows n²,
    # true pairs n) — resolve auto settings from the materialized count
    # AND the measured unrelated-pair bit agreement (the leakage base of
    # the law; assuming it costs an order of magnitude in join volume —
    # see estimate_bit_agreement).
    n_rows = sum(metrics[f"{stage}_rows"] for stage in clks_stages)
    measured_a = None
    if config.num_bands is None or config.bits_per_band is None:
        measured_a = estimate_bit_agreement(all_clks, key_col=key)
    config = _resolve_banding(config, n_rows, measured_a)
    metrics["banding"] = {
        "num_bands": config.num_bands,
        "bits_per_band": config.bits_per_band,
        "min_band_matches": config.min_band_matches,
        "predicted_recall": round(_band_recall(
            config.num_bands, config.bits_per_band, config.min_band_matches,
            _DUPLICATE_AGREEMENT), 6),
        "n_rows": n_rows,
        "measured_bit_agreement": measured_a,
    }
    runner.block_partitions = _banded_partitions(
        spark, n_rows * config.num_bands
    )

    # Both parties' bands go through ONE skew cap: a boilerplate
    # mega-block is a joint phenomenon (capping per party would
    # under-count its s_a × s_b pair volume).
    def build_blocks() -> DataFrame:
        # ONE explicit shuffle by block_key: the cap's size aggregate and
        # both pair-join sides require hashpartitioning(block_key), so
        # deriving them from this exchange makes each of them
        # exchange-free (600k rows: the banded rows previously
        # re-shuffled 3x).
        blocks = runner.partition_blocks(functools.reduce(
            DataFrame.unionByName,
            [
                block_keys(
                    df,
                    l=config.schema.l,
                    num_bands=config.num_bands,
                    bits_per_band=config.bits_per_band,
                    seed=config.lsh_seed,
                    salt=config.lsh_salt,
                    key_cols=(kid,),
                )
                for df in clks
            ],
        ))
        capped, metrics["block_cap_accounting"] = cap_block_size(
            blocks, config.max_block_size, key_cols=(kid,))
        return capped

    blocks = runner.run(
        "blocks", build_blocks, parents=clks_stages,
        num_bands=config.num_bands, bits_per_band=config.bits_per_band,
        lsh_seed=config.lsh_seed, lsh_salt=config.lsh_salt,
        max_block_size=config.max_block_size,
    )

    def build_pairs() -> DataFrame:
        # Pair predicate: key_a < key_b within one table; across two
        # parties, the kid's sign bit.
        sides = ((blocks,) if single else
                 (blocks.where(F.col(kid) >= 0),
                  blocks.where(F.col(kid) < 0)))
        # The CLK payload join (one per clks table) carries each side's
        # user key through Dice as a_<key> / b_<key>.
        scored = score_candidates(
            candidate_pairs(
                *sides,
                key_col=kid,
                min_band_matches=config.min_band_matches,
            ),
            clks[0],
            threshold=config.threshold,
            other_clks=clks[-1],
            key_col=kid,
        )
        # Orientation: one table re-canonicalizes (string order != hash
        # order); two parties keep key_a from A.
        user_a, user_b = F.col(f"a_{key}"), F.col(f"b_{key}")
        key_a, key_b = ((F.least(user_a, user_b), F.greatest(user_a, user_b))
                        if single else (user_a, user_b))
        pairs = scored.select(
            key_a.alias("key_a"), key_b.alias("key_b"), "score")
        # 1-1 matching runs on user keys: its mutual-best tie-break
        # orders by key, which must stay the user-key ordering.
        return one_to_one_matching(pairs) if one_to_one else pairs

    pairs = runner.run(
        "pairs", build_pairs, parents=clks_stages + ("blocks",),
        threshold=config.threshold,
        min_band_matches=config.min_band_matches, one_to_one=one_to_one,
    )

    clusters = runner.run(
        "clusters",
        lambda: cluster_records(
            all_clks.select(key), pairs, key_col=key,
            # the materialized pairs-stage row count upper-bounds the
            # edge count, letting the driver-gate path skip the edge
            # distinct and its materialize-and-checksum job
            known_edge_bound=metrics.get("pairs_rows"),
        ),
        parents=clks_stages + ("pairs",),
    )

    return LinkageResult(
        clks=all_clks.drop(kid), blocks=blocks, pairs=pairs,
        clusters=clusters, metrics=metrics, config=config,
    )


def run_linkage(
    spark: SparkSession,
    pages: DataFrame,
    config: LinkageConfig,
) -> LinkageResult:
    """Run the full dedup-linkage pipeline over one table.

    Stages (each checkpointed when ``config.checkpoint_dir`` is set):
    ``clks`` → ``blocks`` → ``pairs`` → ``clusters``.

    Every row must carry a distinct ``config.key_col`` value. A repeated
    key raises ``ValueError``, and two keys whose xxhash64 ids collide
    raise :class:`KeyIdCollisionError` (rename one); both are raised
    after the clks stage, before any blocking work.
    """
    return _run_graph(spark, [pages], config)


def run_linkage_two_party(
    spark: SparkSession,
    party_a: DataFrame,
    party_b: DataFrame,
    config: LinkageConfig,
    one_to_one: bool = True,
) -> LinkageResult:
    """Two-party record linkage (the reference tutorial's FEBRL flow:
    encode both datasets under the SAME secret/schema, block together,
    score cross-party pairs, optionally enforce a 1-1 matching).

    Every ``config.key_col`` value must be distinct, within and across
    the parties (prefix them if needed); repeats and key-id collisions
    raise as in :func:`run_linkage`. Returns pairs as
    (key_a from party_a, key_b from party_b, score); ``clusters`` holds
    the matched-pair components (useful when one_to_one=False).

    Stages ``clks_a`` / ``clks_b`` / ``blocks`` / ``pairs`` /
    ``clusters`` of the same graph as :func:`run_linkage`.
    """
    return _run_graph(spark, [party_a, party_b], config,
                      one_to_one=one_to_one)
