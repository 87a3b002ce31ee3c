"""Operator modules, one per operator family — importing this package
registers every operator from SURVEY.md §2 into
trip_data_pipeline_spark.registry.OPS."""

from trip_data_pipeline_spark.operators import (  # noqa: F401
    aggregates,
    composite,
    corpus,
    dedup,
    dq,
    filters,
    geo,
    graph,
    joins,
    lifecycle,
    multimodal,
    scalar_funcs,
    scans,
    sessionize,
    setops,
    similarity,
    sorting,
    streaming_ops,
    text_ops,
    timeseries,
    udfs,
    windows,
)
