package graft.operators

import java.util.concurrent.{CompletionException, Executors}
import org.apache.spark.sql.{AnalysisException, DataFrame, DataFrameWriter,
  Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{broadcast, col, lit, max}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StringType}

/** One index family — everything that differs between the standing
  * indexes (search, band, IVF, SQ8, binary, MRL, PQ, IVF-PQ, residual
  * IVF-PQ, graph) as the maintenance paths see them. The CDC routing,
  * sequencing, replay ledger and settle rule are shared in
  * [[graft.streaming.IngestStream.applyCdcFamilyBatch]] and
  * [[graft.streaming.IngestStream.settleFamilyUpserts]]; the batch
  * lifecycle epochs are shared in `SimilarityQueries`' stage functions.
  *
  *  - `idCol`/`payloadCol`/`payloadType`: the capture frame's key and
  *    row columns (`doc_id`/`text` or `vec_id`/`embedding`), also the
  *    `<table>_pending` queue's shape and the tombstones' id column;
  *  - `tables`: the suffixes of the tables one generation holds — what a
  *    pointer publish flips, what the settle refreshes, what an epoch
  *    drops;
  *  - `keys`: the columns a table carries the id under (`vec_id`,
  *    `doc_id`, band rows' `old_id`, graph edges' `src` and `dst`) —
  *    what a compaction drops dead ids on;
  *  - `append`: the batch path's frozen-layout insert of an
  *    `(id, payload)` frame;
  *  - `upsert`: the generation copy `src` → `dest` that re-ingests the
  *    settle's winner frame (written under `paths`);
  *  - `reingestInserts`: INSERTs queue instead of applying at drain time
  *    (graph: an insert is a beam WALK over the growing index, so it is
  *    order-dependent and settles as one batch for determinism — the
  *    FreshDiskANN streaming-merge model).
  *
  * Every row deletes the same way ([[delete]]) and copies its
  * generations through one layout-driven routine ([[cloneTo]],
  * [[compact]], [[reshard]] and every upsert). The tombstone sidecar is
  * this object's alone: its rows ([[delete]]), its reads
  * ([[IndexFamily.tombstones]], [[IndexFamily.live]]) and its copy. */
final case class IndexFamily(
    idCol: String, payloadCol: String, payloadType: DataType,
    tables: Seq[String], keys: Seq[String],
    append: (SparkSession, String, DataFrame) => Unit,
    upsert: (SparkSession, String, String, Seq[String], DataFrame) => Unit,
    reingestInserts: Boolean) {

  /** The generation copy `src` → `dest` (under `path`) that carries
    * pending tombstones along (`clone` would shadow `Object.clone`). */
  def cloneTo(s: SparkSession, src: String, dest: String,
      path: String): Unit =
    IndexFamily.copyGeneration(s, tables, keys, src, dest,
      IndexFamily.under(path), None, Map.empty, None)

  /** The generation copy that settles pending tombstones physically —
    * the new generation starts tombstone-free. */
  def compact(s: SparkSession, src: String, dest: String,
      path: String): Unit =
    IndexFamily.copyGeneration(s, tables, keys, src, dest,
      IndexFamily.under(path), Some(Nil), Map.empty, None)

  /** A [[compact]] under `numBuckets` buckets — the remedy
    * [[SearchOps.searchReshardCheck]] and [[Dedup.bandReshardCheck]]
    * call for. Every bucketed table is repartitioned by its bucket
    * columns into the new count, which matches the bucket-id function,
    * so each task owns one destination bucket and writes it as one
    * file; a finer count spreads a hot bucket's probe tasks. Rows move,
    * nothing is re-tokenized or re-hashed, and the logical groups
    * (terms, (band, bkey) keys) travel intact, so probes answer as
    * before and prune against the new count. At the source's own count
    * use [[compact]]: the exchange would be elided against the scan. */
  def reshard(s: SparkSession, src: String, dest: String, path: String,
      numBuckets: Int): Unit =
    IndexFamily.copyGeneration(s, tables, keys, src, dest,
      IndexFamily.under(path), Some(Nil), Map.empty, Some(numBuckets))

  /** DELETE maintenance — the reference's CDC DELETE semantics
    * (`sql/triggers.sql:29-32`: a delete is captured and must reach
    * downstream state): the deleted ids append to the tombstone
    * sidecar `<table>_tombstones`, one `(idCol, seq)` row per distinct
    * pair. The index tables are never read or rewritten: a delete costs
    * one id-batch append, every probe drops the ids
    * ([[IndexFamily.live]]), and the next compaction settles them
    * physically — the "mutations accumulate cheaply, compaction settles
    * them" discipline of every LSM/lakehouse delete.
    *
    * Sequence-versioned: a direct batch delete (no `seq` column in
    * `ids`) stamps `Long.MaxValue` — final until compaction. The CDC
    * sink passes the event's queue sequence instead, so a LATER
    * re-INSERT or UPDATE of the same id outranks the tombstone at the
    * settle ([[graft.streaming.IngestStream.settleFamilyUpserts]]).
    * Probes stay seq-blind: any tombstone hides the id until the settle
    * resolves the order. The search probes read through cached session
    * clones, whose cached listing of the sidecar is dropped after the
    * append. */
  def delete(s: SparkSession, table: String, ids: DataFrame): Unit = {
    IndexFamily.appendByName(ids.select(col(idCol).cast("long").as(idCol),
        (if (ids.columns.contains("seq")) col("seq").cast("long")
         else lit(Long.MaxValue)).as("seq"))
      .distinct(), table + IndexFamily.tombstoneSuffix, None)
    SearchOps.refreshProbeSessions(table + IndexFamily.tombstoneSuffix)
  }

  /** Every table a drain into `src` and a settle into `dest` leave
    * behind: both generations plus the source's three sidecars. */
  def tablesOf(src: String, dest: String): Seq[String] =
    tables.map(src + _) ++ IndexFamily.sidecars.map(src + _) ++
      tables.map(dest + _)
}

object IndexFamily {

  private val tombstoneSuffix = "_tombstones"

  /** Written by the drain next to the family's own tables. */
  val sidecars: Seq[String] = Seq(tombstoneSuffix, "_pending", "_applied")

  /** Every table one generation of `family` can hold: its own tables
    * plus the tombstone sidecar a delete (or a clone of one) writes. */
  def generationTables(family: IndexFamily): Seq[String] =
    family.tables :+ tombstoneSuffix

  /** The tombstone sidecar of generation `table` — the `(id, seq)` rows
    * [[IndexFamily.delete]] appends — or `None` while nothing was
    * deleted: a missing sidecar means no deletes, and an index with
    * none pays nothing. */
  private[graft] def tombstones(s: SparkSession, table: String)
      : Option[DataFrame] =
    Option.when(s.catalog.tableExists(table + tombstoneSuffix))(
      s.table(table + tombstoneSuffix))

  /** `rows` of generation `table` without the ids it tombstoned: a
    * broadcast `left_anti` of `rows(key)` against the sidecar's ids, or
    * `rows` itself while none exist. `key` is the family's `idCol`,
    * except on band rows, which key the corpus side as `old_id`. The
    * ids are not made distinct: an anti-join's output does not depend
    * on duplicates. */
  private[graft] def live(s: SparkSession, table: String, rows: DataFrame,
      key: String): DataFrame =
    deadIds(s, table, key)
      .fold(rows)(d => rows.join(broadcast(d), Seq(key), "left_anti"))

  /** The ids generation `table` tombstoned, under the name `key`. The
    * id is the sidecar's column that is not `seq`, whatever their
    * order. */
  private[graft] def deadIds(s: SparkSession, table: String, key: String)
      : Option[DataFrame] =
    tombstones(s, table).map(t =>
      t.select(col(t.columns.filterNot(_ == "seq").head).as(key)))

  /** The zero-shuffle bucketed-scan reader every bucketed copy reads
    * through: a session clone (sharing the context and catalog, conf
    * isolated) with `autoBucketedScan` disabled, so a bucketed table
    * scans as one task per bucket with all of that bucket's file groups,
    * and a write under the same bucket spec emits one file per bucket
    * with no exchange. A `repartition` on the bucket columns does NOT
    * achieve this: the scan advertises the bucket hash partitioning, so
    * EnsureRequirements elides the exchange, while
    * DisableUnnecessaryBucketedScan independently downgrades the scan to
    * file-grain tasks — leaving buckets split across tasks (the
    * file-collapse tests of SearchOpsSpec and DedupIncrementalSpec pin
    * it). */
  private def bucketedReader(s: SparkSession): SparkSession = {
    val reader = s.newSession()
    reader.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "false")
    reader
  }

  /** Runs `writes` as concurrent Spark jobs and returns once every one
    * has finished. The callers pass writes of disjoint tables, none
    * reading a table another one writes, so their order never mattered —
    * only their job-and-commit latency added up.
    *
    * Each write is submitted through `SQLExecution.withThreadLocalCaptured`:
    * it runs under the calling thread's active session and SparkContext
    * local properties (job group, `sql.streaming.queryId`, batch id), so
    * `query.stop()` cancels it and listeners attribute its jobs exactly as
    * for a write on the micro-batch thread. Every write is waited for,
    * failed or not, before the first failure is rethrown with the others
    * suppressed — no write outlives a failed call. */
  private[graft] def concurrently(spark: SparkSession)(
      writes: (() => Unit)*): Unit = {
    val failures = writes
      .map(w => SQLExecution.withThreadLocalCaptured(spark, writePool)(w()))
      .flatMap { f =>
        try { f.join(); None }
        catch { case e: CompletionException => Some(e.getCause) }
      }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  // cached, not fixed: the search family's append runs `concurrently`
  // again from inside a batch's fan-out and waits on this same pool
  private lazy val writePool = Executors.newCachedThreadPool { r =>
    val t = Executors.defaultThreadFactory().newThread(r)
    t.setName("graft-write-" + t.getId)
    t.setDaemon(true)
    t
  }

  /** Appends `rows` to catalog table `table`, column by column name.
    * An existing table is inserted into with the frame's columns put in
    * the table's order, read from the catalog (no file listing); its
    * partition columns and bucket spec come from the catalog too. A
    * positional `insertInto` alone would silently swap columns of one
    * type, such as the tombstones' `(doc_id, seq)`; a `saveAsTable`
    * append lists the whole table again after the write, to build a
    * relation nothing reads. A missing table is created by
    * `saveAsTable`, under `bucketing` when given.
    *
    * A `bucketing` that differs from an existing table's spec, or a
    * frame with another number of columns, is rejected with the
    * `AnalysisException` a `saveAsTable` append raises, before anything
    * is written: file groups under two bucket specs would misroute rows
    * in a bucket-pruned scan or a bucketed join. */
  private[graft] def appendByName(rows: DataFrame, table: String,
      bucketing: Option[BucketSpec]): Unit = {
    val catalog = rows.sparkSession.sessionState.catalog
    val id = TableIdentifier(table)
    if (!catalog.tableExists(id))
      bucketed(rows.write.mode("append").format("parquet"), bucketing)
        .saveAsTable(table)
    else {
      val meta = catalog.getTableMetadata(id)
      if (bucketing.exists(b => !meta.bucketSpec.contains(b)))
        throw new AnalysisException("_LEGACY_ERROR_TEMP_1164", Map(
          "tableName" -> table,
          "specifiedBucketString" -> bucketing.get.toString,
          "existingBucketString" -> meta.bucketSpec.fold("none")(_.toString)))
      if (rows.columns.length != meta.schema.length)
        throw new AnalysisException("_LEGACY_ERROR_TEMP_1161", Map(
          "tableName" -> table,
          "existingTableSchema" -> meta.schema.catalogString,
          "querySchema" -> rows.schema.catalogString))
      rows.select(meta.schema.fieldNames.toSeq.map(col): _*)
        .write.mode("append").insertInto(table)
    }
  }

  // `write` bucketed and sorted by `spec`, or unchanged without one
  private def bucketed(write: DataFrameWriter[Row],
      spec: Option[BucketSpec]): DataFrameWriter[Row] =
    spec.fold(write)(b => write
      .bucketBy(b.numBuckets, b.bucketColumnNames.head,
        b.bucketColumnNames.tail: _*)
      .sortBy(b.sortColumnNames.head, b.sortColumnNames.tail: _*))

  private val embeddingType = ArrayType(FloatType, containsNull = false)

  /** A row whose upsert comes from [[copyGeneration]], like every row's
    * clone and compaction: only its tables, `keys` and frozen-layout
    * `append` differ. The upsert is a compaction that also drops the
    * incoming ids, followed by the row's own append of
    * [[latestPerId]]. In-place re-ingestion is not offered: rows key on
    * the id, so an id stored under both its stale and fresh payload
    * would serve twice (band rows: pair under both texts), or fold both
    * code sets into one PQ score. */
  private def copied(idCol: String, payloadCol: String,
      payloadType: DataType, tables: Seq[String], keys: Seq[String],
      append: (SparkSession, String, DataFrame) => Unit): IndexFamily =
    IndexFamily(idCol, payloadCol, payloadType, tables, keys, append,
      (s, src, dest, paths, rows) => {
        val latest = latestPerId(rows, idCol, payloadCol)
        copyGeneration(s, tables, keys, src, dest, under(paths.head),
          Some(Seq(latest.select(col(idCol)))), Map.empty, None)
        append(s, dest, latest)
      },
      reingestInserts = false)

  /** One `(id, payload)` row per id of `rows`, the payload the
    * deterministic max, so a duplicate-id batch cannot re-introduce the
    * doubled id an upsert exists to prevent. Callers holding real event
    * order reduce by it first (the CDC settle does). */
  private def latestPerId(rows: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    rows.select(col(idCol).cast("long").as(idCol), col(payloadCol))
      .groupBy(col(idCol)).agg(max(col(payloadCol)).as(payloadCol))

  /** A vector family: a [[copied]] row keyed on `vec_id` whose append
    * appends each table `encode` makes of the batch, by name, in order
    * — the layout's one encoder, which its build, derive and retrain
    * write through too ([[VectorOps.writeGeneration]]). */
  private[graft] def vector(tables: Seq[String],
      encode: VectorOps.Encoder): IndexFamily =
    copied("vec_id", "embedding", embeddingType, tables, Seq("vec_id"),
      (s, t, rows) => {
        graft.functions.GraftFunctions.register(s)
        encode(s, t, rows).foreach { case (x, r) =>
          appendByName(r, t + x, None) }
      })

  /** Copies every table of generation `src` to `dest`, each under
    * `dir(suffix)`, by the layout the table already has — never a
    * retrain, a re-assignment or a re-tokenization. A table missing from
    * `src` is not written, so `dest` has the same shape (a postings-only
    * search index has no `_doclens`). A table with none of the `keys` is
    * a frozen quantizer (`_cents`, `_codebooks`) and copies verbatim.
    * Every table keeps the partition columns and the bucket spec the
    * catalog reports for it; a bucketed table is read through
    * [[bucketedReader]], so each bucket is rewritten as one file with no
    * exchange. The tables are disjoint and every write reads only `src`,
    * so they run as concurrent jobs ([[concurrently]]).
    *
    *  - `drop = None`, a plain clone: every row copies and the tombstone
    *    sidecar is carried over, so the clone serves exactly what the
    *    source serves and pending deletes cannot resurrect.
    *  - `drop = Some(ids)`, a compaction: a table loses every row that
    *    carries `ids` or a tombstoned id under any of the `keys` it has
    *    (a graph node's out-edges by `src`, its in-edges by `dst`),
    *    gains its rows in `gained` (unioned by name), and a partitioned
    *    table is repartitioned by its partition columns, so each list is
    *    rewritten as one file (IvfIndexSpec pins the collapse). The new
    *    generation starts tombstone-free.
    *  - `numBuckets = Some(n)`: every bucketed table is written under
    *    `n` buckets, repartitioned by its bucket columns. */
  private def copyGeneration(s: SparkSession, tables: Seq[String],
      keys: Seq[String], src: String, dest: String, dir: String => String,
      drop: Option[Seq[DataFrame]], gained: Map[String, DataFrame],
      numBuckets: Option[Int]): Unit = {
    val dead = drop.flatMap(ids => (ids ++ deadIds(s, src, keys.head))
      .reduceOption(_ union _)).map(_.distinct())
    lazy val reader = bucketedReader(s)
    val writes = tables.filter(t => s.catalog.tableExists(src + t)).map { t =>
      val meta = s.sessionState.catalog
        .getTableMetadata(TableIdentifier(src + t))
      val parts = meta.partitionColumnNames
      val spec = meta.bucketSpec.map(b =>
        b.copy(numBuckets = numBuckets.getOrElse(b.numBuckets)))
      val rows = meta.bucketSpec.fold(s)(_ => reader).table(src + t)
      val ks = keys.filter(rows.columns.contains)
      val kept =
        if (drop.isEmpty || ks.isEmpty) rows
        else {
          // an anti-join leads with its key, so the keys end up first,
          // in `keys` order, and the other columns keep theirs
          val live = dead.fold(rows)(d => ks.foldRight(rows)((k, r) =>
            r.join(broadcast(d.toDF(k)), Seq(k), "left_anti")))
          val all = gained.get(t).fold(live)(live.unionByName(_))
          if (parts.isEmpty) all else all.repartition(parts.map(col): _*)
        }
      val copied =
        if (numBuckets.isEmpty) kept
        else spec.fold(kept)(b =>
          kept.repartition(b.numBuckets, b.bucketColumnNames.map(col): _*))
      () => bucketed(copied.write.mode("overwrite").format("parquet")
          .partitionBy(parts: _*), spec)
        .option("path", dir(t)).saveAsTable(dest + t)
    }
    val sidecar = tombstones(s, src).filter(_ => drop.isEmpty).map(t =>
      () => t.write.mode("overwrite").format("parquet")
        .saveAsTable(dest + tombstoneSuffix))
    concurrently(s)(writes ++ sidecar: _*)
  }

  // `path/<suffix>`, `path/rows` for the `""` table, so a sidecar's
  // directory never sits inside it
  private[graft] def under(path: String)(t: String): String =
    s"$path/${if (t.isEmpty) "rows" else t.stripPrefix("_")}"

  /** Postings + BM25 norms, keyed on `doc_id`. `numBuckets` reaches
    * both appends: the sidecar's own default could otherwise disagree
    * with a non-default index spec and Spark rejects the mismatched
    * bucketing; the copies keep the source's spec. The two appends run
    * as concurrent jobs. The upsert is one compaction that gains the
    * fresh postings and norms of [[latestPerId]], postings under
    * `paths(0)` and norms under `paths(1)`: one write per table of
    * survivors and fresh rows, the two writes concurrent. */
  def search(numBuckets: Int): IndexFamily = {
    val tables = Seq("", "_doclens")
    copied("doc_id", "text", StringType, tables, Seq("doc_id"),
      (s, t, docs) => concurrently(s)(
        () => SearchOps.appendToSearchIndex(s, t, docs, "doc_id", "text",
          numBuckets),
        () => SearchOps.appendDocLengths(s, t, docs, "doc_id", "text",
          numBuckets))
    ).copy(upsert = (s, src, dest, paths, docs) => {
      val latest = latestPerId(docs, "doc_id", "text")
      copyGeneration(s, tables, Seq("doc_id"), src, dest,
        tables.zip(paths).toMap, Some(Seq(latest.select(col("doc_id")))),
        Map("" -> SearchOps.invertedIndex(latest, "doc_id", "text"),
          "_doclens" -> SearchOps.docLengths(latest, "doc_id", "text")),
        None)
    })
  }

  /** LSH band rows, keyed on `old_id`; a stale UPDATE left in place
    * would pair under BOTH texts (phantom jaccard matches), hence
    * queue-until-settle. `numBuckets` reaches the appends, including
    * the upsert's append of the fresh band rows. */
  def band(numBuckets: Int): IndexFamily = copied("doc_id", "text",
    StringType, Seq(""), Seq("old_id"),
    Dedup.appendToBandIndex(_, _, _, "doc_id", "text", numBuckets))

  /** IVF lists under the frozen coarse quantizer. */
  val ivf: IndexFamily = vector(Seq("_cents", "_lists"), VectorOps.ivfLists)

  /** int8-coded IVF lists. */
  val sq8: IndexFamily = vector(Seq("_cents", "_lists"), VectorOps.sq8Lists)

  /** Sign-mask lists packed through the frozen quantizer. */
  val binary: IndexFamily =
    vector(Seq("_cents", "_lists"), VectorOps.binaryLists)

  /** Matryoshka prefix epoch — the prefix is a `slice()`, order-free, so
    * drain-time inserts are settle-equivalent. */
  val mrl: IndexFamily =
    vector(Seq("_cents", "_prefix", "_nodes"), VectorOps.mrlPrefixes)

  /** Flat PQ codes under the frozen codebooks (8 subspaces of 64 dims —
    * the served epoch's shape). */
  val pq: IndexFamily =
    vector(Seq("_codebooks", "_codes"), VectorOps.pqCodes(8, 64))

  /** kNN-graph generation — the one family whose INSERTs queue. A
    * dropped node's edges purge in both directions (`src`, `dst`); an
    * edge's stored score is its endpoints' cosine, stale the moment
    * either moves, so an upsert prunes the ids and walks them back in
    * over the pruned graph (the FreshDiskANN delete-then-reinsert
    * model). */
  val graph: IndexFamily = copied("vec_id", "embedding", embeddingType,
    Seq("_cents", "_cells", "_nodes", "_edges"), Seq("vec_id", "src", "dst"),
    GraphOps.appendToGraphIndex).copy(reingestInserts = true)

  /** IVF lists of PQ codes; `m`/`dim` serve the drain-time encode AND the
    * settle's re-encode, so a non-default index keeps its subspaces. */
  def ivfPq(m: Int, dim: Int): IndexFamily = vector(
    Seq("_cents", "_codebooks", "_codes"), VectorOps.ivfPqCodes(m, dim))

  /** IVF-PQ over residuals against the list centroids. */
  def ivfPqResidual(m: Int, dim: Int): IndexFamily = vector(
    Seq("_cents", "_codebooks", "_codes"), VectorOps.ivfPqResidualCodes(m, dim))
}
