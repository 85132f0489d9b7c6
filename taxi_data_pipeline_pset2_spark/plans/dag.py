"""dbt-like DAG runner (SURVEY.md section 2.11, 3.2).

The reference's orchestration is Mage block DAGs + dbt refs; here a node
is ``fn(spark, upstreams) -> DataFrame`` and "ref" is a dict lookup.
Every node is a dbt table: it writes parquet into the warehouse dir
(optionally partitioned+sorted -- the X1 clustering equivalent) and is
re-read, so downstream nodes scan materialized storage. Its row count is
observed on that write, not counted by a second scan.

Independent nodes run concurrently, as in dbt (reference
``profiles.yml:12,24``): a node is submitted as soon as its dependencies
have materialized, one worker per node. This is safe because the workers
only submit Spark jobs, Spark job submission is thread-safe and the scheduler
interleaves the nodes' stages; small dim builds then use cores a single
node leaves idle.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target


@dataclass(frozen=True)
class Node:
    name: str
    fn: Callable[..., DataFrame]  # fn(spark, **upstream_dataframes)
    deps: tuple[str, ...] = ()
    partition_by: tuple[str, ...] = ()
    sort_within_partitions_by: tuple[str, ...] = ()


@dataclass
class NodeResult:
    name: str
    status: str
    seconds: float
    rows: int | None = None
    error: str | None = None
    started_at: float = 0.0  # monotonic; lets tests assert node overlap
    finished_at: float = 0.0


@dataclass
class Pipeline:
    warehouse_dir: str
    nodes: list[Node] = field(default_factory=list)

    def add(self, node: Node) -> "Pipeline":
        # reject duplicates HERE: _topo_order's by_name dict would keep
        # only the last same-named node, so the shadowed one would never
        # run while run() still reports all-success -- and both writes
        # would target warehouse_dir/<name>
        if any(n.name == node.name for n in self.nodes):
            raise ValueError(f"duplicate node name: {node.name!r}")
        self.nodes.append(node)
        return self

    def _topo_order(self) -> list[Node]:
        by_name = {n.name: n for n in self.nodes}
        seen: dict[str, int] = {}  # 0=visiting, 1=done
        order: list[Node] = []

        def visit(name: str) -> None:
            state = seen.get(name)
            if state == 1:
                return
            if state == 0:
                raise ValueError(f"cycle at {name}")
            seen[name] = 0
            for d in by_name[name].deps:
                if d not in by_name:
                    raise ValueError(f"{name} depends on unknown node {d}")
                visit(d)
            seen[name] = 1
            order.append(by_name[name])

        for n in self.nodes:
            visit(n.name)
        return order

    def _run_node(
        self, spark: SparkSession, node: Node, upstream: dict[str, DataFrame]
    ) -> tuple[DataFrame | None, NodeResult, Exception | None]:
        """Write one node's table and re-read it. Returns the re-read
        frame, the node's result and, on failure, the error."""
        t0 = time.perf_counter()
        try:
            observed = Observation()
            df = node.fn(spark, **upstream).observe(
                observed, F.count(F.lit(1)).alias("rows")
            )
            if node.sort_within_partitions_by:
                df = df.sortWithinPartitions(*node.sort_within_partitions_by)
            w = df.write.mode("overwrite")
            if node.partition_by:
                w = w.partitionBy(*node.partition_by)
            path = f"{self.warehouse_dir}/{node.name}"
            w.parquet(path)
            # only read once the write has returned: after a failed
            # action the observation holds {'rows': 0} instead of raising
            rows = observed.get["rows"]
            table = spark.read.parquet(path)
        except Exception as e:  # noqa: BLE001 - per-node status like Mage
            t1 = time.perf_counter()
            return None, NodeResult(node.name, "failed", t1 - t0, None, str(e), t0, t1), e
        t1 = time.perf_counter()
        return table, NodeResult(node.name, "success", t1 - t0, rows, None, t0, t1), None

    def run(
        self, spark: SparkSession
    ) -> tuple[dict[str, DataFrame], list[NodeResult]]:
        """Materialize all nodes, each as soon as its dependencies have;
        returns the re-read DataFrames and per-node status in topological
        order, mirroring Mage's per-block status tracking
        (``pipelines/taxi_zones/metadata.yaml:5-33``).

        After a failure no further node is submitted and in-flight nodes
        drain; then the first failure's own exception is re-raised, with
        the results so far attached as its ``node_results``."""
        order = self._topo_order()
        nodes = {n.name: n for n in order}
        waiting = {n.name: set(n.deps) for n in order}
        built: dict[str, DataFrame] = {}
        finished: dict[str, NodeResult] = {}
        failure: Exception | None = None
        # pool workers do not inherit Spark local properties; wrapping
        # here copies the caller's (job group, description, pool) into them
        run_node = inheritable_thread_target(spark)(self._run_node)
        with ThreadPoolExecutor(max_workers=max(len(order), 1)) as pool:
            running = {}

            def submit_ready() -> None:
                for name in [n for n, deps in waiting.items() if not deps]:
                    del waiting[name]
                    node = nodes[name]
                    upstream = {d: built[d] for d in node.deps}
                    running[pool.submit(run_node, spark, node, upstream)] = name

            submit_ready()
            while running:
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    name = running.pop(fut)
                    table, finished[name], error = fut.result()
                    if error is not None:
                        failure = failure or error
                        continue
                    built[name] = table
                    for deps in waiting.values():
                        deps.discard(name)
                if failure is None:
                    submit_ready()
        results = [finished[n.name] for n in order if n.name in finished]
        if failure is not None:
            failure.node_results = results
            raise failure
        return built, results


def taxi_pipeline(
    warehouse_dir: str,
    yellow: DataFrame,
    green: DataFrame,
    zones: DataFrame,
) -> Pipeline:
    """The full medallion DAG for given raw inputs. Gold fact is written
    partitioned by service_type + sorted by pickup_date within partitions
    (X1: partition pruning + row-group min/max skipping on the BASELINE
    benchmark query's predicates)."""
    from taxi_data_pipeline_pset2_spark.plans import taxi_models as m

    return (
        Pipeline(warehouse_dir)
        .add(Node("stg_trips_unified", lambda spark: m.stg_trips_unified(yellow, green)))
        .add(Node("dim_date", lambda spark: m.dim_date(spark)))
        .add(Node("dim_zone", lambda spark: m.dim_zone(zones)))
        .add(Node("dim_payment_type", lambda spark: m.dim_payment_type(spark)))
        .add(Node("dim_rate_code", lambda spark: m.dim_rate_code(spark)))
        .add(
            Node(
                "fct_trips",
                lambda spark, stg_trips_unified, dim_date, dim_zone: m.fct_trips(
                    stg_trips_unified, dim_date, dim_zone
                ),
                deps=("stg_trips_unified", "dim_date", "dim_zone"),
                partition_by=("service_type",),
                sort_within_partitions_by=("pickup_date",),
            )
        )
    )
