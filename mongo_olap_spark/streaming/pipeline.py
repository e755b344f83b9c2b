"""Continuous cube maintenance: Structured Streaming → signed-delta merge.

``CubeMaintainer`` keeps a catalog cube fresh from a CDC stream via
``foreachBatch``. Every batch, whatever the cube's shape (plain or
lattice, time-partitioned or not), runs the same body:

    readStream(cdc) → foreachBatch(batch):
        v     = current_version(cube)                # the read fence
        spec  = spec committed at v                  # never cached
        deltas = delta_cells(spec, batch)            # signed partials
        merged = merge_cells(touched_cells, deltas)  # §4.3 MERGE
        [recompute_cells(...) for min/max cubes hit by deletes]
        commit_partitions(touched, batch id, read_version=v)

**Partition-scoped**: with a time-partitioned cell table, only the
partitions the delta touches are read, merged, and rewritten — the
per-batch write cost is O(|touched cells|), not O(|all cells|);
untouched partitions are carried by manifest reference and their
files never move (asserted byte-identical in tests). An unpartitioned
cube is the one-partition case: its touched set is ``[FLAT_KEY]``,
known without a Spark job.

**Fenced**: the commit names the version its merge base was read at,
so a concurrent writer that changed a touched partition in between
makes this commit raise ``CommitConflict`` instead of overwriting the
winner's cells. Two writers sharing an unpartitioned cube therefore
conflict loudly; writers on disjoint partitions both land.

**Spec per batch**: the maintainer holds the cube's name, not its
spec. Each batch reads the spec embedded in the manifest version it
fences on (plus lattice levels and the partition dimension), so a
measure added by ``CubeCatalog.evolve`` is maintained from the next
batch on.

Exactly-once: Spark's checkpoint gives at-least-once foreachBatch
delivery; idempotency comes from the batch-id high-watermark stored
*inside the manifest* — data and watermark commit with one atomic
rename, so a crash anywhere leaves either the old snapshot+watermark
(batch replays onto unchanged state) or the new pair (replay skipped).

Path A (no deletes in the domain) is also provided:
``update_mode_aggregation`` — plain streaming groupBy/agg with
watermarking, using Spark's own state store. It cannot retract, which
is exactly why Path B above exists (SURVEY.md §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_olap_spark.cube.build import delta_cells
from mongo_olap_spark.cube.catalog import FLAT_KEY, CubeCatalog, partition_key_col
from mongo_olap_spark.cube.ivm import affected_cells, merge_cells, recompute_cells
from mongo_olap_spark.cube.lattice import LEVEL_COL, delta_cells_lattice
from mongo_olap_spark.cube.spec import CubeSpec


class CubeMaintainer:
    """Drives incremental maintenance of one catalog cube from a
    CDC-shaped stream (columns: doc fields + ``mult`` ±1)."""

    def __init__(
        self,
        catalog: CubeCatalog,
        name: str,
        *,
        source_for_repair: DataFrame | None = None,
        stream_id: str = "default",
    ):
        self.catalog = catalog
        self.name = name
        self.source_for_repair = source_for_repair
        #: identifies THIS maintainer's checkpoint in the manifest's
        #: per-stream watermark map — two maintainers on one cube must
        #: use distinct stream_ids or their (checkpoint-scoped) batch
        #: ids would collide in a single shared watermark
        self.stream_id = stream_id

    # -- the micro-batch body ---------------------------------------------
    def apply_batch(self, batch: DataFrame, batch_id: int) -> bool:
        """Apply one micro-batch. Returns True when the batch was
        applied, False when the watermark skipped it as a replay — so a
        caller (the service's apply_cdc) can report a skipped replay
        honestly instead of claiming rows were applied. Raises
        ``CommitConflict`` when another writer changed a touched
        partition after this batch read its merge base."""
        cat, name = self.catalog, self.name
        if batch_id <= cat.last_batch_id(name, self.stream_id):
            return False  # replayed batch — idempotent skip
        read_version = cat.current_version(name)
        # the spec that wrote the merge base; version 0 (no snapshot,
        # e.g. a dropped cube) reads the spec file and fails loudly
        spec = cat.get_spec(name, version=read_version or None)
        levels = cat.lattice_levels(name)

        repair = not spec.delete_safe and (
            batch.filter(F.col("mult") < 0).limit(1).count() > 0
        )
        if repair and levels is not None:
            # per-level cell recompute is a rebuild in disguise
            raise ValueError(
                f"lattice cube {name} has min/max measures; deletes are "
                "not incrementally maintainable per level — refresh instead"
            )
        if repair and self.source_for_repair is None:
            raise ValueError(
                f"cube {name} has min/max measures; deletes require "
                "source_for_repair for cell recomputation"
            )

        if levels is None:
            deltas, extra_keys = delta_cells(spec, batch), ()
        else:
            # ONE signed grouping-sets aggregation delivers deltas for
            # every materialized level; the merge keys on (dims, level)
            deltas = delta_cells_lattice(spec, batch, levels)
            extra_keys = (LEVEL_COL,)
        pdim = cat.partition_dim(spec)
        if pdim is None:
            touched_keys = [FLAT_KEY]
        else:
            # resolve the (few) touched partition keys driver-side; the
            # key strings come from the same expression the writer
            # uses, so they agree byte-for-byte with the manifest keys
            deltas = deltas.cache()
            touched_keys = [
                r[0] for r in deltas.select(partition_key_col(pdim)).distinct().collect()
            ]
        try:
            cells = cat.cells_for_partitions(name, touched_keys)
            merged = merge_cells(cells, deltas, spec, extra_keys=extra_keys)
            if repair:
                touched = affected_cells(
                    spec, delta_cells(spec, batch.filter(F.col("mult") < 0)))
                merged = recompute_cells(spec, self.source_for_repair, merged, touched)
            # the commit writes NEW immutable files and flips the
            # manifest (data + watermark in one atomic rename); the
            # files `merged` reads stay in place
            cat.commit_partitions(
                name,
                merged,
                touched_keys,
                batch_id=batch_id,
                stream_id=self.stream_id,
                read_version=read_version,
            )
        finally:
            deltas.unpersist()
        return True

    # -- stream wiring ------------------------------------------------------
    def start(self, cdc_stream: DataFrame, checkpoint_dir: str, **trigger):
        """Attach to a streaming DataFrame; returns the StreamingQuery.
        ``checkpoint_dir`` is the resume token of the reference domain."""
        if not trigger:
            trigger = {"availableNow": True}
        return (
            cdc_stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start()
        )


class MultiCubeMaintainer:
    """Maintain SEVERAL cubes over one CDC stream in one pass.

    The reference runs one change-stream consumer per collection and
    fans the event out to every cube defined on it. Engine-side: a
    single ``foreachBatch`` caches the micro-batch once, then applies
    each cube's ``delta_cells → merge_cells`` — one stream read, one
    checkpoint (one resume token), N cube updates. At scale this is
    N× cheaper than N maintainers: the CDC scan and its parse cost are
    paid once, and the per-cube work is just the (tiny) delta agg.
    """

    def __init__(self, catalog: CubeCatalog, names: list[str], *,
                 sources_for_repair: dict[str, DataFrame] | None = None):
        repair = sources_for_repair or {}
        self.children = [
            CubeMaintainer(catalog, n, source_for_repair=repair.get(n))
            for n in names
        ]

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        batch = batch.cache()
        try:
            for child in self.children:
                child.apply_batch(batch, batch_id)
        finally:
            batch.unpersist()

    def start(self, cdc_stream: DataFrame, checkpoint_dir: str, **trigger):
        if not trigger:
            trigger = {"availableNow": True}
        return (
            cdc_stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start()
        )


def update_mode_aggregation(
    spark: SparkSession,
    cdc_stream: DataFrame,
    spec: CubeSpec,
    *,
    watermark: str = "1 hour",
    query_name: str = "cube_update",
):
    """Path A: insert-only maintenance with Spark's native streaming
    aggregation state (update output mode → in-memory sink for tests).
    Late rows beyond the watermark are dropped (documented lateness)."""
    from mongo_olap_spark.cube.build import cell_aggs

    dims = [d.expr() for d in spec.dimensions]
    agg = (
        cdc_stream.withWatermark("stream_ts", watermark)
        .groupBy(*dims)
        .agg(*cell_aggs(spec))
    )
    return (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )


#: stage types that are pure per-document transforms — safe on an
#: unbounded stream with no state, no watermark, no output-mode
#: constraints. Everything else either needs state ($group/$sort/
#: $setWindowFields/...) or a bounded side ($lookup's packed foreign
#: side is fine batch-side, but the STREAM side of a stream-static
#: join has its own semantics — routed through the cube surface).
_STREAM_SAFE_STAGES = {
    "$match", "$project", "$addFields", "$set", "$unset", "$unwind",
    "$replaceRoot", "$replaceWith", "$redact",
}


def apply_change_stream_pipeline(stream: DataFrame, pipeline: list) -> DataFrame:
    """Mongo change-stream pipelines, Spark-first (round 6).

    ``collection.watch(pipeline)`` accepts a restricted stage list —
    per-document transforms over the change events. That is exactly
    the stateless subset of the aggregation compiler, so this applies
    the SAME ``compile_pipeline`` to an unbounded streaming DataFrame:
    every stage compiles to a projection/filter/explode on the stream,
    preserving incremental execution (no state store, any output
    mode). Stateful stages refuse by name toward the right surface —
    continuous aggregation is the cube maintainer (`CubeMaintainer` /
    `update_mode_aggregation`), not a pipeline stage on the stream.
    """
    from mongo_olap_spark.plans.pipeline_compiler import (
        PipelineError,
        compile_pipeline,
    )

    if not stream.isStreaming:
        raise PipelineError(
            "apply_change_stream_pipeline expects a streaming DataFrame; "
            "use compile_pipeline for batch sources"
        )
    for stage in pipeline:
        [(name, _)] = stage.items()
        if name not in _STREAM_SAFE_STAGES:
            raise PipelineError(
                f"{name} is not a change-stream stage: only per-document "
                f"transforms ({sorted(_STREAM_SAFE_STAGES)}) run on an "
                "unbounded stream. For continuous aggregation use "
                "CubeMaintainer (signed-delta MERGE) or "
                "update_mode_aggregation (Path A)"
            )
    return compile_pipeline(stream, pipeline)
