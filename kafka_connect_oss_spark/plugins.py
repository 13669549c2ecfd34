"""Pluggable partitioner & format registries (SURVEY.md §2 P7, A3).

The reference loads Partitioner and Format classes reflectively by name and
calls ``configure(map)`` (OSSSinkTask.java:100-140; README.md:144-146). The
Spark-native analog is a name -> builder registry:

  partitioner builder:  (PipelineConfig) -> Column   (the encodedPartition
                        expression; stays declarative so Catalyst folds it
                        into the write plan — no per-row Python)
  format plugin:        encode(table) + read(spark, glob) + extension —
                        the F1-F8 writer family, extensible. ``encode``
                        maps one file's rows (a ``pyarrow.Table`` of the
                        payload, in offset order) to the object's bytes on
                        executors: define it in a module shipped with the
                        job, or inside a function so it pickles by value.

Built-ins self-register at import; user code registers more:

    @register_partitioner("by_user_bucket")
    def _(cfg):
        return (F.col("user_id") % 16).cast("string")

then ``PipelineConfig(partitioner="by_user_bucket")`` just works — config
validation consults the registry, like the reference's recommender
(OSSSinkConnectorConfiguration.java:110-118).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession

PartitionerBuilder = Callable[[Any], Column]  # Any = PipelineConfig

PARTITIONERS: dict[str, PartitionerBuilder] = {}


def register_partitioner(name: str):
    def deco(fn: PartitionerBuilder) -> PartitionerBuilder:
        PARTITIONERS[name] = fn
        return fn

    return deco


@dataclass(frozen=True)
class FormatPlugin:
    """One writer family (F1-F5): object encoder + golden-check reader."""

    name: str
    encode: Callable[[Any], bytes]  # Any = pyarrow.Table
    read: Callable[[SparkSession, str], DataFrame]
    extension: str


FORMATS: dict[str, FormatPlugin] = {}


def register_format(plugin: FormatPlugin) -> FormatPlugin:
    FORMATS[plugin.name] = plugin
    return plugin
