"""Seeded input generators. The same seed gives the same rows, and the
stream files are byte-identical across runs."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from apm_opentelemetry_collector_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    synth_transcripts,
)


def transcripts_table(spark, path: str, n_rows: int, seed: int, **skew) -> None:
    """A transcript table of about 100 turns per conversation, written
    as parquet (stands in for the pre-existing input table)."""
    synth_transcripts(
        spark, n_rows=n_rows, n_convs=max(n_rows // 100, 1), seed=seed, **skew
    ).write.mode("overwrite").parquet(path)


def stream_files(spark, out_dir: str, n_rows: int, n_files: int, seed: int) -> list[str]:
    """Split a seeded transcript table into n_files parquet files.

    Turn i of a conversation of length n goes to file floor(i*n_files/n),
    so every conversation's turns arrive in turn_idx order across files
    and each file holds a slice of every conversation. Rows are sorted
    before writing, so the files are byte-identical for a seed however
    Spark partitioned the generator.
    """
    tr = synth_transcripts(
        spark, n_rows=n_rows, n_convs=max(n_rows // 100, 1), seed=seed
    )
    n = F.count("*").over(Window.partitionBy("conv_id"))
    tbl = (
        tr.withColumn(
            "_file", F.floor(F.col("turn_idx") * n_files / n).cast("int")
        )
        .toArrow()
        .sort_by([("_file", "ascending"), ("conv_id", "ascending"), ("turn_idx", "ascending")])
    )
    file_col = tbl.column("_file").to_numpy()
    bounds = np.searchsorted(file_col, np.arange(n_files + 1))
    data = tbl.drop(["_file"]).cast(to_arrow_schema(TRANSCRIPT_SCHEMA))
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(data.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        paths.append(p)
    return paths
