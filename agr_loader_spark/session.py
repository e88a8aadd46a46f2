"""SparkSession factory used by tests, bench, and the driver contract.

The reference runs 8 sink worker processes + 10 download processes
(src/default_env_vars.yml:12-13); here parallelism is a core count on a
single local JVM (the sandbox stand-in for executor count — see
BENCH/BASELINE.md for the N vs 4N scaling protocol).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession


def _loopback_tcp_workaround() -> None:
    """Opt-in fix for a loopback-TCP lost-wakeup under BBR.

    On a 6.18.x-fc VM kernel that defaults to BBR congestion control, a
    large python<->JVM Arrow stream twice wedged forever mid-task with
    the signature: one segment marked lost ON LOOPBACK, retransmits
    backed off to the 120 s RTO ceiling at cwnd=1 while the peer
    dup-acked them (ss: ``lost:1 retrans:1/16 rto:120000 backoff:11
    dsack_dups:3``), python worker stuck in tcp_sendmsg, JVM reader in
    epoll_wait; switching to cubic made the identical workload complete
    reliably (BENCH/BASELINE.md "ROUND 5: 2→8"). The fix rewrites a
    HOST-WIDE sysctl, so library code never does it by default: it runs
    only when SPARK_GRAFT_LOOPBACK_CC_FIX=1, and is a no-op without
    procfs write access or when the host does not run BBR.
    """
    if os.environ.get("SPARK_GRAFT_LOOPBACK_CC_FIX") != "1":
        return
    path = "/proc/sys/net/ipv4/tcp_congestion_control"
    try:
        with open(path) as f:
            if f.read().strip() != "bbr":
                return
        with open(path, "w") as f:
            f.write("cubic")
        # flipping a host-wide sysctl must never be silent
        import sys
        sys.stderr.write(
            "agr_loader_spark: loopback-TCP workaround rewrote host "
            "tcp_congestion_control bbr -> cubic "
            "(SPARK_GRAFT_LOOPBACK_CC_FIX=1)\n"
        )
    except OSError:
        pass


def get_spark(
    app_name: str = "agr_loader_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build a local SparkSession tuned for the engine.

    AQE is on (runtime partition coalescing + skew-join splitting);
    shuffle partitions default to the core count — at cluster scale this
    is replaced by AQE's initialPartitionNum sizing against
    spark.sql.files.maxPartitionBytes.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # master override: e.g. "local-cluster[4,4,8192]" runs 4 SEPARATE
    # executor JVMs — the honest emulation of N vs 4N executors for the
    # scaling-efficiency evidence (single-JVM local[N] shares one GC and
    # memory bus across all "executors").
    if master is None:
        master = os.environ.get("SPARK_MASTER_OVERRIDE")
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # Only default to local[] when WE own the JVM. Under
        # `spark-submit --master <anything>` the gateway JVM already
        # carries the cluster manager's master (standalone/YARN/k8s);
        # stomping it with local[N] would silently collapse a real
        # cluster deploy to driver-local execution. Proven end-to-end in
        # tests/test_spark_submit.py::test_spark_submit_multi_executor
        # (submit master local-cluster[2,...] survives to sc.master).
        master = f"local[{cores}]"
    _loopback_tcp_workaround()
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # benchmark-scale shuffles are a few hundred MB; the 64MB default
        # advisory size coalesces them below the core count and serializes
        # stages. 8MB keeps all cores busy here and is irrelevant at
        # cluster scale (shuffles >> cores x 64MB there).
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_ADVISORY_PARTITION_BYTES", "8m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # token-array payloads make sort-merge joins sort-heavy; shuffled
        # hash join streams them (AQE still falls back on skew/size)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # dynamic-partition writes otherwise sort the whole task output
        # (spills on multi-GB generator tasks); concurrent writers stream
        .config("spark.sql.maxConcurrentOutputFileWriters", "16")
        # narrow (key, lsn) winner sets broadcast well into the tens of MB;
        # AQE downgrades to shuffle joins automatically when they don't fit
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_BCAST_THRESHOLD", "64m"),
        )
        # NOTE: spark.locality.wait stays at the 3s default — measured: the
        # fold's shuffle reads benefit from PROCESS_LOCAL placement (0s
        # scatters tasks and turns local shuffle reads into remote fetches,
        # 4-exec replay wall 27s -> 33s on the scaling input)
        # scan-task granularity, env-overridable per workload: the
        # few-core-executor replay measures best at 32m (4x1-exec leg
        # 87s -> 66s, 1-exec unchanged — the round-2 scaling legs set
        # it), but the default stays at Spark's 128m: the wide local[32]
        # analytics queries measure WORSE with small splits (warm
        # ngram_jaccard at sf0.1: 9s @128m vs 28s @32m — the extra scan
        # partitions cascade into shuffle fragmentation under AQE).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_MAX_PARTITION_BYTES", "128m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # local[N] emulates an N-core executor: pin JVM-internal pools
        # (GC) to N threads too, else a local[2] run silently uses all
        # host CPUs for GC and distorts the N-vs-4N scaling evidence
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:ParallelGCThreads={max(cores, 1)} -XX:ConcGCThreads={max(cores // 4, 1)}",
        )
    )
    # local-cluster executor JVMs otherwise size EVERY internal pool (GC,
    # JIT compiler, netty shuffle IO) from the 32-core HOST, not their
    # 1-core grant — a real 1-core node would have 1-core pools. The
    # scaling protocol sets e.g. "-XX:ActiveProcessorCount=1" here so an
    # emulated executor behaves like the node it stands in for (and 4
    # JVMs' GC bursts stop colliding on the shared host).
    exec_opts = os.environ.get("SPARK_EXECUTOR_JAVA_OPTS")
    if exec_opts:
        builder = builder.config("spark.executor.extraJavaOptions", exec_opts)
    # NOTE on worker-side library threading: pyarrow sizes its IO/compute
    # pool from OMP_NUM_THREADS, so pinning OMP=1 here serializes the
    # parquet encode/decode inside every Arrow fold worker. Measured on
    # clean (steal-gated) 48M-event replay legs: 4-exec 126-142 s
    # unpinned vs 157-172 s pinned, and N->4N efficiency DROPS to
    # ~0.73-0.77 pinned (BENCH/scaling_r3v2_ab.jsonl) — so no pinning is
    # done. Both scaling legs run identical worker configs either way;
    # the unpinned setting is also the max-throughput one.
    # shuffle/spill codec, env-tunable: lz4 (Spark default) vs zstd —
    # zstd shrinks shuffle bytes ~30% at extra CPU cost, the right
    # trade when the cluster is network/memory-bandwidth-bound (the
    # 4-exec replay leg here; also standard practice at 100 TB where
    # shuffle crosses real networks). Measured per-workload in
    # BENCH/BASELINE.md before changing any default.
    codec = os.environ.get("SPARK_IO_CODEC")
    if codec:
        builder = builder.config("spark.io.compression.codec", codec)
    local_dir = os.environ.get("SPARK_LOCAL_DIRS_OVERRIDE")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # diagnostics hook: JSON dict of extra spark confs (e.g. event log)
    # applied last; never set by any default path
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if extra:
        for k, v in json.loads(extra).items():
            builder = builder.config(k, str(v))
    # local-cluster executors spawn their own Python workers; make this
    # package importable there (spark-submit --py-files does this on a
    # real cluster)
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH", f"{pkg_dir}:{existing}" if existing else pkg_dir
    )
    return builder.getOrCreate()
