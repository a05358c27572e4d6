"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the same configs are what we'd set on a
real cluster: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), Arrow for any pandas exchange, sane shuffle parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "aircan_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    checkpoint_dir: str | None = None,
) -> SparkSession:
    """``checkpoint_dir``: opt-in RELIABLE checkpointing for the iterative
    operators (PageRank/BFS/CC/PCA and the localCheckpoint-truncated
    plans). They default to executor-local checkpoints — fast but lost
    with an executor; pointing this at a fault-tolerant store
    (hdfs://, s3a://) makes ``aircan_spark.data.checkpoint`` switch every
    one of them to ``df.checkpoint()``, the requirement for thousand-
    executor runs. Also honored via $SPARK_GRAFT_CHECKPOINT_DIR."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime shuffle-partition coalescing, skew-join
        # splitting, dynamic broadcast conversion — essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas UDF / toPandas exchange (vectorized, zero-copy-ish).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Timestamps without zone surprises in parquet round-trips.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    checkpoint_dir = checkpoint_dir or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    return spark


# --- C7: per-site credential/connection resolution ----------------------------------
#
# The reference resolves cloud clients from per-site Airflow connections
# named "{site_id}_google_cloud" (dependencies/cloud/clients.py:39-66,
# dags/pipeline_ckan_to_bigquery.py:246-252). The Spark analog is per-site
# filesystem conf: the same naming scheme, resolved from the environment
# into spark.hadoop.* keys that scope credentials to one session (or, for
# s3a, to one bucket via per-bucket keys).

_SITE_ENV_SCHEMES: dict[str, dict[str, str]] = {
    # conf key (relative) -> env var suffix, looked up as {SITE_ID}_{SUFFIX}
    "s3": {
        "spark.hadoop.fs.s3a.access.key": "AWS_ACCESS_KEY_ID",
        "spark.hadoop.fs.s3a.secret.key": "AWS_SECRET_ACCESS_KEY",
    },
    "gcs": {
        "spark.hadoop.google.cloud.auth.service.account.json.keyfile": "GCP_KEYFILE",
        "spark.hadoop.fs.gs.project.id": "GCP_PROJECT",
    },
}
_SITE_OPTIONAL: dict[str, dict[str, str]] = {
    "s3": {
        # S3-compatible stores (MinIO/R2/Wasabi) + region, mirroring the
        # reference s3_client(endpoint_url=..., region_name=...)
        "spark.hadoop.fs.s3a.endpoint": "S3_ENDPOINT_URL",
        "spark.hadoop.fs.s3a.endpoint.region": "AWS_REGION",
    },
    "gcs": {},
}


def site_storage_conf(
    site_id: str,
    kind: str,
    *,
    env: dict[str, str] | None = None,
    bucket: str | None = None,
) -> dict[str, str]:
    """Resolve a site's object-store credentials into Spark conf.

    ``site_id`` scopes the env lookup exactly like the reference's
    ``{site_id}_google_cloud`` connection ids: ``{SITE_ID}_AWS_ACCESS_KEY_ID``
    etc. ``bucket`` (s3 only) emits per-bucket s3a keys so one session can
    talk to multiple sites' buckets with different credentials —
    the multi-tenant layout the reference runs DAG-per-site for.

    Raises KeyError naming every missing variable (fail fast at DAG parse
    time, not mid-load)."""
    if kind not in _SITE_ENV_SCHEMES:
        raise ValueError(f"unknown storage kind {kind!r}; one of {sorted(_SITE_ENV_SCHEMES)}")
    env = os.environ if env is None else env
    prefix = site_id.upper().replace("-", "_")
    conf: dict[str, str] = {}
    missing: list[str] = []
    for conf_key, suffix in _SITE_ENV_SCHEMES[kind].items():
        var = f"{prefix}_{suffix}"
        if var in env:
            conf[conf_key] = env[var]
        else:
            missing.append(var)
    if missing:
        raise KeyError(f"site {site_id!r}: missing credential env vars {missing}")
    for conf_key, suffix in _SITE_OPTIONAL[kind].items():
        var = f"{prefix}_{suffix}"
        if var in env:
            conf[conf_key] = env[var]
    if bucket and kind == "s3":
        conf = {
            k.replace("fs.s3a.", f"fs.s3a.bucket.{bucket}."): v for k, v in conf.items()
        }
    return conf
