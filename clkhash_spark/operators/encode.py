"""CLK encode operator: DataFrame → DataFrame[key..., clk, popcount].

One ``mapInPandas`` stage fuses validation, missing-value substitution,
canonicalization, tokenization, hashing, OR-fold, and XOR-fold (the
reference's steps 4-7, clkhash/clk.py:243-284) — no ordered merge is
needed because the key columns ride along with every output row.

Scale notes:
- The stage is embarrassingly parallel; partitioning of the input is
  inherited (no shuffle). Upstream ``select`` keeps column pruning intact —
  only key + feature columns reach Python (e.g. the heavy ``html`` column
  of a web-pages table never crosses the Arrow boundary).
- The :class:`~clkhash_spark.core.vectorized.BatchEncoder` is constructed
  once per partition and carries token-digest caches across Arrow batches
  (the distributed analog of the reference's lru_cache,
  clkhash/bloomfilter.py:28-29).
- Keys are derived once on the driver and shipped in the task closure
  (tiny); the secret itself never appears in logs or on executors.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Sequence, Union

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StructField,
    StructType,
)

from ..core.kdf import generate_key_lists
from ..core.schema import Schema


def derive_keys(schema: Schema, secret: Union[str, bytes]):
    """Driver-side HKDF key derivation (includes ignored fields)."""
    return generate_key_lists(
        secret,
        len(schema.fields),
        key_size=schema.kdf_key_size,
        salt=schema.kdf_salt,
        info=schema.kdf_info,
        kdf=schema.kdf_type,
        hash_algo=schema.kdf_hash,
    )


def encode_clks(
    df: DataFrame,
    schema: Schema,
    secret: Union[str, bytes],
    key_cols: Sequence[str] = ("url",),
    feature_cols: Optional[Sequence[str]] = None,
    validate: bool = False,
) -> DataFrame:
    """Encode every row of ``df`` into a packed CLK (``clk``) and its
    ``popcount``.

    :param df: input DataFrame.
    :param schema: linkage schema; field ``i`` reads ``feature_cols[i]``.
    :param secret: linkage secret (driver-side only).
    :param key_cols: passthrough identifier columns (e.g. ``url``).
    :param feature_cols: df column per schema field, in schema order.
        Defaults to the schema field identifiers. Ignored fields may map
        to ``None`` (a dummy empty column is fed to keep key derivation
        aligned with the reference, clkhash/clk.py:233-241).
    :param validate: run per-field validation on every distinct value and
        fail the job on the first invalid entry.
    """
    if feature_cols is None:
        feature_cols = [f.identifier for f in schema.fields]
    if len(feature_cols) != len(schema.fields):
        raise ValueError(
            f"need {len(schema.fields)} feature columns, got "
            f"{len(feature_cols)}"
        )
    keys = derive_keys(schema, secret)

    # Column pruning: only keys + non-ignored features cross into Python.
    wanted: List[str] = list(key_cols)
    read_cols: List[Optional[str]] = []
    for field, col in zip(schema.fields, feature_cols):
        if field.hash_spec is None or col is None:
            read_cols.append(None)
        else:
            read_cols.append(col)
            if col not in wanted:
                wanted.append(col)
    projected = df.select(
        *[F.col(c).cast("string").alias(c) if c not in key_cols else F.col(c)
          for c in wanted]
    )
    # Encode is the CPU-heavy stage and a narrow map, so it inherits the
    # input partitioning — a single-file parquet input (one row group =
    # one split regardless of maxPartitionBytes) would pin the whole
    # encode to one core. The guard runs AFTER the projection, so only
    # key+feature columns shuffle (same rule as minhash_signatures /
    # simhash; see widen_if_narrow).
    from ._util import widen_if_narrow

    projected = widen_if_narrow(projected)

    key_fields = [projected.schema[c] for c in key_cols]
    out_schema = StructType(
        list(key_fields)
        + [
            StructField("clk", BinaryType(), False),
            StructField("popcount", IntegerType(), False),
        ]
    )

    schema_b = schema  # closure capture (small, picklable)
    fields = schema.fields

    def encode_partition(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        from ..core.vectorized import BatchEncoder

        encoder = BatchEncoder(schema_b, keys)
        empty = None
        for pdf in batches:
            columns = []
            for field, col in zip(fields, read_cols):
                if col is None:
                    if empty is None or len(empty) != len(pdf):
                        empty = pd.Series([""] * len(pdf), dtype=object)
                    columns.append(empty)
                else:
                    series = pdf[col].astype(object)
                    if validate:
                        for value in series.dropna().unique():
                            field.validate(str(value))
                    columns.append(series)
            clks, popcounts = encoder.encode_to_lists(columns)
            out = {c: pdf[c] for c in key_cols}
            out["clk"] = clks
            out["popcount"] = popcounts
            yield pd.DataFrame(out)

    return projected.mapInPandas(encode_partition, out_schema)
