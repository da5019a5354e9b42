package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Upsert semantics: latest-state-per-key, partial-update coalescing,
  * delete handling, and the batch MERGE kernel used inside `foreachBatch`
  * (reference: sink upsert config `postgres-sink.json:22-24`, per-key
  * ordering `data-model.md:373-380`, partial-update trigger
  * `docker/postgres/handle-partial-updates.sql`, delete rewrite
  * `postgres-sink.json:40-41`).
  *
  * Scale design: latest-per-key is `groupBy(keys).agg(max_by(...))` — a
  * hash aggregation with map-side partial combine, so each shuffle
  * partition receives one pre-reduced row per (mapper, key) instead of
  * every event. A window + row_number would sort entire partitions; at
  * 100 TB the hash-agg form is strictly better (no sort, smaller shuffle).
  */
object Upsert {

  /** Deterministic event-order key: commit timestamp with a tiebreak
    * (the reference relies on Kafka single-in-flight ordering,
    * scylla-source.json:49; after a shuffle we must re-establish order
    * explicitly — SURVEY §7.4.2). */
  def orderKey(commitTs: Column, tiebreak: Column): Column =
    struct(commitTs, tiebreak)

  /** W1: latest row per key by `ord` (postgres-sink.json:22-24 upsert
    * semantics made explicit). Keeps ALL columns of the latest row. */
  def latestPerKey(df: DataFrame, keys: Seq[String], ord: Column): DataFrame = {
    val others = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(others.map(col): _*), ord).as("__latest"))
      .select(keys.map(col) ++ others.map(c => col(s"__latest.$c").as(c)): _*)
  }

  /** ST7 partial-update collapse (handle-partial-updates.sql:6-142): for
    * each non-key column take the value of the LATEST event in which that
    * column was non-null (Scylla CDC sends only changed columns; absent →
    * NULL). `max_by(c, when(c.isNotNull, ord))` skips null-ordered rows,
    * i.e. exactly "latest non-null". Inherits the reference's documented
    * ambiguity: "unchanged" and "set to NULL" are indistinguishable
    * (handle-partial-updates.sql:3). Single hash-agg shuffle. */
  def lastNonNullPerKey(df: DataFrame, keys: Seq[String], ord: Column,
      valueCols: Seq[String]): DataFrame = {
    val aggs = valueCols.map(c => max_by(col(c), when(col(c).isNotNull, ord)).as(c))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Collapse a micro-batch to final per-key state: latest row per key,
    * with per-column partial-update coalescing, dropping keys whose latest
    * event is a delete (ST8, postgres-sink.json:24,40-41). */
  def collapseBatch(df: DataFrame, keys: Seq[String], ord: Column,
      deleteCol: String, partialUpdateCols: Seq[String] = Seq.empty): DataFrame =
    collapseBatchKeepDeletes(df, keys, ord, deleteCol, partialUpdateCols)
      .filter(col(deleteCol) =!= lit("true") || col(deleteCol).isNull)

  /** The idempotent MERGE kernel run per micro-batch (foreachBatch): new
    * target snapshot = target ⟗ collapsed-updates with
    *   - matched + source deleted        → row removed (ST8)
    *   - matched + newer                 → update, NULL source columns
    *     preserve target values (ST7 coalesce)
    *   - matched + older (late replay)   → target kept (monotonic guard,
    *     ST2: `WHERE target.ts <= source.ts`)
    *   - unmatched source, not deleted   → insert
    * Idempotence: re-running the same batch yields the same snapshot
    * (ST1 — replaces Kafka transactions for non-transactional sinks).
    *
    * `ordCol` must exist in both target and updates (e.g. commit ts).
    * On a cluster this same logic is one `MERGE INTO` against Delta/
    * Iceberg; the snapshot join here IS that merge, expressed engine-
    * neutrally. Join is one shuffle on the key; AQE handles skew. */
  def mergeBatch(target: DataFrame, updates: DataFrame, keys: Seq[String],
      ordCol: String, deleteCol: String,
      partialUpdateCols: Seq[String] = Seq.empty): DataFrame = {
    val collapsed = collapseBatchKeepDeletes(updates, keys, col(ordCol), deleteCol, partialUpdateCols)
    val dataCols = target.columns.filterNot(keys.contains)
    val t = target.select(keys.map(col) ++ dataCols.map(c => col(c).as(s"__t_$c")): _*)
    val u = collapsed.select(keys.map(col) ++
      collapsed.columns.filterNot(keys.contains).map(c => col(c).as(s"__u_$c")): _*)
    val joined = t.join(u, keys, "full_outer")
    val uPresent = col(s"__u_$ordCol").isNotNull
    val tPresent = col(s"__t_$ordCol").isNotNull
    val newer = !tPresent || col(s"__u_$ordCol") >= col(s"__t_$ordCol")
    // null-safe: a NULL delete marker (e.g. event without `operation`)
    // must NOT satisfy the delete branch — `===` would yield NULL and
    // silently drop the joined row
    val deleted = col(s"__u_$deleteCol") <=> lit("true")
    val out = joined.filter(!(uPresent && newer && deleted)) // DELETE branch
    val resolved = dataCols.map { c =>
      // coalesce ONLY declared partial-update columns; all others take
      // the source value outright so an explicit set-to-NULL applies,
      // and results don't depend on how events split across batches
      val updateValue =
        if (partialUpdateCols.contains(c))
          coalesce(col(s"__u_$c"), col(s"__t_$c"))
        else col(s"__u_$c")
      when(uPresent && newer, updateValue)
        .otherwise(col(s"__t_$c")).as(c)
    }
    out.select(keys.map(col) ++ resolved: _*)
  }

  /** collapseBatch but keeping delete markers — the shape merge kernels
    * and JDBC sink statement generation consume (public: sink authors
    * outside this package need exactly this collapse). */
  def collapseBatchKeepDeletes(df: DataFrame, keys: Seq[String],
      ord: Column, deleteCol: String, partialUpdateCols: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(keys.contains)
    val aggs = others.map { c =>
      if (partialUpdateCols.contains(c))
        max_by(col(c), when(col(c).isNotNull, ord)).as(c)
      else max_by(col(c), ord).as(c)
    }
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
