"""The benchmark's workloads: named subsets of the query catalog.

Each pass runs every query of the workload once, in an order drawn from
the run's seed.  The reason for each workload, and which layer metrics
it should move, is in README.md.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # relational plans over the star schema: no Python UDF, no streaming
    "sql-analytics": (
        "q01_pricing_summary",
        "q05_topk_per_order",
        "q18_sessionize",
        "q260_funnel",
        "q263_disorder_audit",
    ),
    # pandas/Arrow UDF decoders over committed codec fixtures
    "decode-udf": (
        "q124_image_dedup",
        "q126_grib2_decode",
        "q144_jpeg_decode",
        "q271_hdf5_decode",
        "q276_grib2_jpeg2000",
        "q291_avro_scan",
    ),
    # streaming replay: chunk split, AvailableNow drain, stateful dedup
    "stream-ingest": ("q287_stream_dedup_ttl",),
}
