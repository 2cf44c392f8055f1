package graft.sources

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkpoints

/** What one backfill run did — the Spark twin of the reference command's
  * submitted/skipped report (`dump_data_to_clickhouse` logs the skipped
  * pks and the dumped count, dump_data_to_clickhouse.py:29-100). Counts,
  * not pk lists: at 100 TB a list of every skipped pk on the driver is
  * itself a scale bug; per-batch ids are small and kept.
  */
final case class BackfillReport(
    batchesPlanned: Seq[Long],
    batchesLanded: Seq[Long],
    batchesFailed: Seq[Long],
    itemsEligible: Long,
    itemsSkipped: Long,
    rowsAppended: Long,
    nestedRowsAppended: Long = 0L) {
  def ok: Boolean = batchesFailed.isEmpty
}

/** Batch backfill executor — the engine twin of the reference's
  * `dump_data_to_clickhouse` management command
  * (management/commands/dump_data_to_clickhouse.py:29-100 driving
  * `fetch_target_items`, sinks/base_sink.py:284-306):
  * page through the source, ask the dump gate per item (or bypass it
  * with `force`), dump batch by batch, TOLERATE a failing batch (the
  * others land; the failure is reported, not thrown), and stay
  * idempotent on re-run.
  *
  * Differences from the reference, for scale:
  *   - The gate is ONE join of the source against the sink's
  *     latest-state view (the A2 `should_dump` plan), not a per-item
  *     `get_last_dumped_timestamp` query (base_sink.py:315-335) — the
  *     reference pays one ClickHouse round-trip per item, which is the
  *     first thing that dies at 10^9 items.
  *   - Batches are pk ranges (`pk div batchSize`), not OFFSET pages —
  *     deterministic, scan-parallel, and partition-prunable, where
  *     Django's Paginator re-sorts and re-skips per page.
  *   - The driver loop touches only batch IDS (count ≈ items/batchSize);
  *     item rows never reach the driver.
  *
  * Idempotency is two-layer, matching the sink contract:
  *   - The gate skips items whose latest sink state is newer than their
  *     modified time — a completed backfill re-run finds nothing to do.
  *   - Each batch's dump_id is deterministic (`"$runId-b$batchId"`), so
  *     even a re-run racing the gate (or re-delivering a half-landed
  *     run) is dropped by the sink's dump-id check.
  *   `force = true` bypasses the GATE (reference `--force` →
  *   `fetch_target_items(force_dump=True)` yields "Force is set");
  *   pair it with a fresh `runId` — same-id re-deliveries are still
  *   deduplicated by design, force or not.
  */
object Backfill {

  /** Run a backfill of `items` into `sink`.
    *
    * @param items        source rows; must carry `pkCol` (numeric pk)
    *                     and `modifiedUsCol` (modified-at, microseconds)
    * @param runId        identifies THIS backfill attempt; batch dump
    *                     ids derive from it
    * @param dumpTimeUs   stamped as time_last_dumped_us on every row
    * @param force        dump every item regardless of sink state
    * @param ids/skipIds  the command's --ids / --skip_ids include and
    *                     exclude pk sets
    * @param limit        stop after this many eligible items have been
    *                     submitted (batch granularity, like the
    *                     reference's post-flush check)
    * @param nested       per-batch related-row cascades: each function
    *                     maps the parent batch rows to the related rows
    *                     that must land in its sink under the BATCH's
    *                     dump metadata (dump_related riding the parent
    *                     dump, base_sink.py:184-203). Cascades land
    *                     BEFORE the parent rows: a failing cascade
    *                     marks the batch failed with the parent sink
    *                     untouched, so the eligibility gate (which
    *                     reads the parent sink) re-selects the batch
    *                     on re-run; already-landed nested rows are
    *                     deduped by the sink's dump-id check.
    */
  def run(
      spark: SparkSession,
      items: DataFrame,
      pkCol: String,
      modifiedUsCol: String,
      sink: SinkLog,
      runId: String,
      dumpTimeUs: Long,
      batchSize: Long = 1000L,
      force: Boolean = false,
      ids: Option[Seq[Long]] = None,
      skipIds: Option[Seq[Long]] = None,
      limit: Option[Long] = None,
      nested: Seq[(DataFrame => DataFrame, SinkLog)] = Nil): BackfillReport = {

    val selected = {
      val in = ids.fold(items)(xs => items.filter(col(pkCol).isin(xs: _*)))
      skipIds.fold(in)(xs => in.filter(!col(pkCol).isin(xs: _*)))
    }

    // The A2 gate against the REAL sink: dump iff the sink has never
    // seen the pk, or saw it before the source was last modified.
    val gated =
      if (force || !sink.initialized(spark))
        selected.withColumn("__dump", lit(true))
      else {
        val st = sink.latestState(spark, Seq(pkCol))
          .select(col(pkCol).as("__pk"),
            col("time_last_dumped_us").as("__dumped_us"))
        selected.join(st, col(pkCol) === col("__pk"), "left")
          .withColumn("__dump",
            col("__dumped_us").isNull ||
              col("__dumped_us") < col(modifiedUsCol))
          .drop("__pk", "__dumped_us")
      }

    // One pass decides every item; the loop below only re-reads this
    // checkpointed frame per batch (pk-range filter, no recompute).
    // floor division (not `div`, which truncates toward zero and would
    // fold pks in (-batchSize, batchSize) into one oversized batch 0 and
    // shift every negative range); pmod keeps it exact integer math even
    // for pks beyond double precision
    val planned = Checkpoints.checkpoint(gated
      .withColumn("__batch",
        expr(s"($pkCol - pmod($pkCol, $batchSize)) div $batchSize")))

    val skippedCount = planned.filter(!col("__dump")).count()
    val eligible = planned.filter(col("__dump"))

    // Driver sees batch ids + sizes only — O(items/batchSize) rows.
    val batches = eligible.groupBy(col("__batch"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("__batch"))
      .collect()
      .map(r => r.getAs[Long]("__batch") -> r.getAs[Long]("n"))

    var submitted = 0L
    var appended = 0L
    var nestedAppended = 0L
    val landed = Seq.newBuilder[Long]
    val failed = Seq.newBuilder[Long]
    val run = Seq.newBuilder[Long]

    batches.foreach { case (batchId, n) =>
      if (!limit.exists(submitted >= _)) {
        run += batchId
        val dumpId = s"$runId-b$batchId"
        val batchRows = eligible.filter(col("__batch") === batchId)
          .drop("__dump", "__batch")
        Try {
          // Nested sinks land FIRST: the eligibility gate reads only the
          // PARENT sink's latest state, so the parent append must be the
          // commit point it observes. If a nested append fails here the
          // parent never lands, the gate still sees the batch as
          // undumped, and a re-run retries it — nested rows that DID
          // land are re-delivered under the same dump_id and dropped by
          // the sink's dump-id check. (Parent-first would strand a
          // nested failure forever: the gate would skip the batch.)
          val nNested = nested.map { case (related, nsink) =>
            nsink.appendIdempotent(spark,
              Sinks.stamped(related(batchRows), dumpId, dumpTimeUs))
          }.sum
          val nParent = sink.appendIdempotent(spark,
            Sinks.stamped(batchRows, dumpId, dumpTimeUs))
          (nParent, nNested)
        } match {
          case Success((nParent, nNested)) =>
            landed += batchId
            appended += nParent
            nestedAppended += nNested
            submitted += n
          case Failure(_) =>
            // the reference tolerates a failing batch: report it, keep
            // going; a re-run with the same runId retries ONLY this
            // batch (its dump_id never reached the PARENT sink, so the
            // gate re-selects it; any nested rows that landed before
            // the failure are deduped by the dump-id check)
            failed += batchId
        }
      }
    }

    BackfillReport(run.result(), landed.result(), failed.result(),
      eligible.count(), skippedCount, appended, nestedAppended)
  }

  /** The FULL command twin: registry → sink → batched dump — what
    * `dump_data_to_clickhouse` actually does for a model name
    * (dump_data_to_clickhouse.py:29-100 resolving the sink via
    * `get_sink_by_model_name`, then paging + dumping through it).
    * Resolves the [[SinkRegistry]] spec, honors the enable gate (a
    * disabled model runs nothing and reports zero), resolves EVERY
    * nested sink up front (a missing one fails before any row lands,
    * as the reference's `__init__`-time nested instantiation does),
    * serializes the model, and drives [[run]] with the per-batch
    * nested cascade wired to the spec's related serializers.
    *
    * The gate column is synthesized as modified-at-epoch-0: a pk the
    * sink has EVER dumped is skipped, so the first run dumps the
    * model and a completed re-run finds nothing to do — the command's
    * observed behavior for sources without a tracked modified time;
    * `force` re-dumps regardless, like `--force`.
    */
  def runModel(
      spark: SparkSession,
      sfDir: String,
      model: String,
      sink: SinkLog,
      runId: String,
      dumpTimeUs: Long,
      batchSize: Long = 1000L,
      force: Boolean = false,
      ids: Option[Seq[Long]] = None,
      skipIds: Option[Seq[Long]] = None,
      limit: Option[Long] = None,
      nestedSinks: Map[String, SinkLog] = Map.empty): BackfillReport = {
    val spec = SinkRegistry.byModelName(model).getOrElse(
      throw new IllegalArgumentException(s"unknown model '$model'"))
    if (!spec.isEnabled) BackfillReport(Nil, Nil, Nil, 0L, 0L, 0L)
    else {
      val resolved = spec.nested.map { ns =>
        ns -> nestedSinks.getOrElse(ns.name,
          throw new IllegalArgumentException(
            s"no sink provided for nested '${ns.name}' of model '$model'"))
      }
      val nested = resolved.map { case (ns, nsink) =>
        ((batch: DataFrame) => ns.serializeRelated(spark, sfDir,
          batch.select(col(spec.serializedKey).as("parent_id")))) -> nsink
      }
      run(spark,
        spec.serialize(spark, sfDir).withColumn("__modified_us", lit(0L)),
        spec.serializedKey, "__modified_us", sink, runId, dumpTimeUs,
        batchSize, force, ids, skipIds, limit, nested)
    }
  }
}
