"""SparkSession helpers tuned for the engine.

Local tests run on ``local[N]``; the configs below are chosen so the same
logical plans scale to a real cluster: AQE handles runtime re-planning
(coalescing post-shuffle partitions, skew-join splitting), broadcast joins
fire for small dimension tables, and the session time zone is pinned to UTC
so timestamp semantics are deterministic and match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime confs applied to any session handed to us (driver-owned sessions
#: included) — all of these are safe to set at runtime.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing + skew-join handling. This is
    # the single most important knob for the 100 TB posture: the static
    # shuffle-partition count never fits every stage, AQE resizes per-stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-plan the OUTPUT partitioning of cached plans too (default
    # false). Without it every persisted frame freezes the static
    # shuffle-partition count at cache-build time, so downstream stages
    # over small cached frames run hundreds of near-empty map tasks whose
    # cost is pure shuffle-file creation — the r14 triangle-count profile
    # measured 30 s of a 70 s stage in shuffle WRITE of 11 MB across 128
    # tasks (artifacts/triangle_profile_r14.md; conf alone took the query
    # 10.2 s -> 4.8 s at sf0.1). At 100 TB the same flag is what keeps
    # cached-frame consumers byte-sized instead of count-sized.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # The driver has generated events.parquet with INT64 TIMESTAMP(NANOS) in
    # some rounds; Spark's parquet reader rejects nanos unless they are read
    # as LONG. Read-path-only and idempotent, but set HERE once (not per
    # read call) so no operator mutates session state mid-query
    # (round-4 verdict hygiene item #4).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def gateway_no_delay() -> None:
    """Turn Nagle off on the JVM end of the calling thread's py4j connection.

    The JVM writes a py4j reply in 8 KB chunks with Nagle on, and the
    Python end delays its ACK, so every reply longer than 8 KB (a plan's
    ``toJSON()``, for one) stalls ~40 ms waiting for that ACK: a 20 KB
    string took 44 ms, 0.4 ms with TCP_NODELAY. py4j pins one connection
    per Python thread (ClientServer), so this covers the calling thread
    only; the lineage listener calls it on its callback thread. A no-op
    unless the gateway is a py4j ClientServer, and for a connection opened
    before py4j's callback server started (starting it replaces the JVM
    callback client that resolves per-thread connections)."""
    from py4j.clientserver import ClientServer
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if not isinstance(gateway, ClientServer):
        return
    try:
        conn = gateway.java_gateway_server.getCallbackClient().getPerThreadConnection()
        conn.getSocket().setTcpNoDelay(True)
    except (AttributeError, Py4JError):  # no pinned connection (None) or a closed one
        pass


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (e.g. the driver's) and
    take Nagle off the calling thread's gateway connection."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # immutable conf on this build — leave as-is
            pass
    gateway_no_delay()
    return spark


def get_session(app_name: str = "spark-sql-flow", cpus: int | None = None) -> SparkSession:
    """Build a local session shaped like production.

    ``spark.sql.shuffle.partitions`` is set to 2×cores locally; on a real
    cluster you would size it to cluster cores (AQE coalesces the excess).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(4, 2 * cpus)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = tune(builder.getOrCreate())
    # conf-driven lineage listener (the Python analog of the reference's
    # spark.sql.queryExecutionListeners self-configuration): a no-op unless
    # spark.sql.flow.* listener confs are set — see listener.register_from_conf
    try:
        from .functions.listener import register_from_conf

        register_from_conf(spark)
    except ValueError:
        raise  # misconfigured flow confs fail fast (reference listeners.scala:84-90)
    except Exception:
        pass  # infra hiccups (callback server) never block session creation
    return spark
