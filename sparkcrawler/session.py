"""SparkSession factory tuned for the crawl workload.

Local-mode testing stands in for a multi-executor cluster; every config
here is chosen so the same code path scales: shuffle partitions sized to
the cores, Arrow for the pandas-UDF extract stage, UTC session timezone
so results compare bit-for-bit against the DuckDB oracle. AQE stays on
for the session's other queries; ``crawl()`` switches it off for the
duration of each call.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _scratch_dir() -> str | None:
    """Root for ephemeral run state (shuffle/spill local dirs, tempfile
    output dirs): ``$SPARKCRAWLER_SCRATCH`` if set, else a RAM-backed
    dir on ``/dev/shm`` when it exists with generous headroom.

    Why: every byte this engine scratches — shuffle spill, per-round
    crawl_log/frontier sinks — is ephemeral
    within one run, but on a disk-backed ``/tmp`` those writes
    accumulate dirty pages whose periodic writeback stalls the WHOLE
    box for seconds (measured: one in ~4 bench crawls hit a 15-20s
    round; with RAM-backed scratch, zero stalls in any run and even
    driver-side footer reads stop spiking 0.07→1.4s). On a cluster,
    point ``SPARKCRAWLER_SCRATCH`` at the node-local NVMe array the
    same way ``spark.local.dir`` is normally provisioned; nothing here
    caches anything across runs — the dirs are created and removed per
    invocation by their owners."""
    explicit = os.environ.get("SPARKCRAWLER_SCRATCH")
    if explicit:
        path = explicit
    else:
        shm = "/dev/shm"
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize < (16 << 30):
                return None  # tmpfs too small to absorb a bench run
        except OSError:
            return None
        path = os.path.join(shm, "sparkcrawler_scratch")
    try:
        os.makedirs(path, exist_ok=True)
        probe = os.path.join(path, ".probe")
        with open(probe, "w"):
            pass
        os.remove(probe)
    except OSError:
        return None
    return path


def get_spark(
    app_name: str = "sparkcrawler",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``). ``shuffle_partitions`` defaults to the core count —
    the 200 default over-parallelizes small local runs and
    under-parallelizes big ones. Under ``spark-submit`` it defaults to
    the submitted cluster's ``defaultParallelism`` unless the submitter
    set ``spark.sql.shuffle.partitions``: the crawl runs without AQE, so
    nothing would coalesce 200 partitions.
    """
    # Under spark-submit the JVM gateway already exists and carries the
    # submitted --master / conf (client AND cluster deploy-mode set
    # PYSPARK_GATEWAY_PORT for the driver python). Forcing a local[...]
    # default there would clobber the cluster master the user submitted
    # with — only apply local defaults when we own session creation.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None and not under_submit:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None and not under_submit:
        if cpus:
            shuffle_partitions = int(cpus)
        else:
            shuffle_partitions = os.cpu_count() or 8

    builder = SparkSession.builder.appName(app_name)
    if not under_submit:
        # local mode owns its scratch placement (a cluster's
        # spark.local.dir comes from the submit-side provisioning)
        scratch = _scratch_dir()
        if scratch:
            builder = builder.config("spark.local.dir", scratch)
            if "TMPDIR" not in os.environ:
                os.environ["TMPDIR"] = scratch
                import tempfile

                tempfile.tempdir = None  # re-resolve from the new env
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html blobs can be MBs each; keep Arrow batches bounded so the
        # extract UDF never materializes an unbounded batch in memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    if (
        under_submit
        and shuffle_partitions is None
        and not sc.getConf().contains("spark.sql.shuffle.partitions")
    ):
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(sc.defaultParallelism))
    sc.setLogLevel("WARN")
    return spark
