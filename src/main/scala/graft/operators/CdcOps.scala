package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spark-native re-expression of the reference's CDC dataflow
  * (blendle/pg2kafka). The reference captures row changes with PL/pgSQL
  * triggers (`sql/triggers.sql`) and drains a queue table to Kafka
  * (`main.go`, `eventqueue/event_queue.go`); here each stage is a pure
  * DataFrame transform, so Catalyst plans it and it scales horizontally by
  * shuffle partitioning on the event key instead of a single drain loop.
  *
  * Envelope (reference DDL `sql/migrations.sql:6-15`, wire projection
  * `eventqueue/event_queue.go:41-50`): {uuid, external_id, statement,
  * data(JSON), created_at}; `id`/`table_name`/`processed` are
  * queue-internal and dropped from the wire.
  *
  * Scale notes (100 TB):
  *  - snapshot/insert/delete are narrow (no shuffle): scan → project.
  *  - the update diff is a co-partitioned join on the table's primary key;
  *    at scale, bucket both sides by the key to avoid the shuffle entirely.
  *  - nothing ever collects to the driver; paging (the reference's
  *    LIMIT-1000 loop) is replaced by Spark's own partition batching.
  */
object CdcOps {

  /** Serialize all columns of a row to a canonical JSON payload, the Spark
    * analog of `row_to_json(NEW)` (`sql/triggers.sql:21,23,66`).
    * NULL columns are preserved as JSON nulls (reference behavior:
    * `sql/sql_test.go:92-110`), hence ignoreNullFields=false.
    * Timestamp columns are rendered as "yyyy-MM-dd HH:mm:ss.SSSSSS"
    * strings — full microsecond precision (row_to_json keeps sub-second
    * digits; truncating would make distinct row states byte-identical on
    * the wire) in an engine-portable format; dates as plain days.
    */
  def rowJson(df: DataFrame): Column = {
    val cols = df.schema.fields.map { f =>
      f.dataType.typeName match {
        case "timestamp" | "timestamp_ntz" =>
          date_format(col(f.name), "yyyy-MM-dd HH:mm:ss.SSSSSS").as(f.name)
        case "date" =>
          date_format(col(f.name), "yyyy-MM-dd").as(f.name)
        case _ => col(f.name)
      }
    }
    to_json(struct(cols.toIndexedSeq: _*), Map("ignoreNullFields" -> "false"))
  }

  /** O2 — snapshot scan (`pg2kafka.create_snapshot_events`,
    * `sql/triggers.sql:49-75`): every row of the watched table becomes one
    * SNAPSHOT event; the key is the watched column cast to text
    * (`:67`), NULL key allowed (→ empty Kafka key downstream).
    * Narrow transform: no shuffle, columns pruned at the parquet scan if a
    * caller projects afterwards.
    */
  def snapshot(df: DataFrame, tableName: String, keyCol: String): DataFrame =
    df.select(
      col(keyCol).cast("string").as("external_id"),
      lit("SNAPSHOT").as("statement"),
      rowJson(df).as("data"),
      lit(tableName).as("table_name"))

  /** O3 — INSERT capture (`sql/triggers.sql:14-15,20-21`): payload is the
    * full new row. */
  def insertEvents(df: DataFrame, tableName: String, keyCol: String): DataFrame =
    df.select(
      col(keyCol).cast("string").as("external_id"),
      lit("INSERT").as("statement"),
      rowJson(df).as("data"),
      lit(tableName).as("table_name"))

  /** PG jsonb equality is value-typed and canonicalized (key order ignored,
    * duplicate keys dropped). Spark's `<=>` doesn't support MapType, so map
    * columns (the hstore analog, FIXTURES.md A1) are normalized to sorted
    * entry arrays — array<struct> IS null-safe comparable. */
  private def comparable(df: DataFrame, qualifier: String, c: String): Column = {
    val dt = df.schema(c).dataType
    dt.typeName match {
      case "map" => array_sort(map_entries(col(s"$qualifier.$c")))
      case _ => col(s"$qualifier.$c")
    }
  }

  /** Render one column portably for the diff output (complex types as
    * JSON, primitives as plain string cast). */
  private def valueString(df: DataFrame, qualifier: String, c: String): Column =
    df.schema(c).dataType.typeName match {
      case "map" | "array" | "struct" => to_json(col(s"$qualifier.$c"))
      case _ => col(s"$qualifier.$c").cast("string")
    }

  /** O4 + O5 — UPDATE capture with per-column diff and no-op suppression
    * (`sql/triggers.sql:16-17,22-37`). The reference loops over
    * `jsonb_each(old)` and deletes unchanged keys from the new-row json;
    * here the diff is a null-safe (`<=>`) column-by-column comparison after
    * an equi-join of old and new on the primary key. An UPDATE that changed
    * nothing produces no event (`changes = '{}' → RETURN NULL`).
    *
    * Emits one row per (entity, changed column): (external_id, statement,
    * changed_col, new_value) — the relational form of the diff map, chosen
    * so results are oracle-comparable. Use [[updateEventsJson]] for the
    * wire-shaped single-JSON-payload form.
    *
    * PG jsonb equality is value-typed (canonicalized), so the comparison is
    * on typed columns, never on serialized strings (SURVEY §7 watch list 1).
    */
  def updateDiff(oldDf: DataFrame, newDf: DataFrame, pkCol: String, keyCol: String): DataFrame = {
    val dataCols = newDf.columns.filter(_ != pkCol)
    val o = oldDf.as("o")
    val n = newDf.as("n")
    val joined = n.join(o, col(s"n.$pkCol") === col(s"o.$pkCol"), "inner")
    // map of column name -> changed new value (as string), null-safe compare
    val entries = dataCols.map { c =>
      when(!(comparable(newDf, "n", c) <=> comparable(oldDf, "o", c)),
        struct(lit(c).as("changed_col"), valueString(newDf, "n", c).as("new_value")))
    }
    joined
      .select(
        col(s"o.$keyCol").cast("string").as("external_id"),
        col(s"n.$pkCol").as("pk"),
        array(entries.toIndexedSeq: _*).as("diffs"))
      .select(col("external_id"), col("pk"),
        explode(filter(col("diffs"), _.isNotNull)).as("d"))
      .select(
        col("external_id"),
        lit("UPDATE").as("statement"),
        col("d.changed_col").as("changed_col"),
        col("d.new_value").as("new_value"))
      // explode of an empty array yields no rows — O5 no-op suppression
  }

  /** O4 wire form: the diff as one JSON object payload per updated row
    * (key order = column order of newDf, matching `row_to_json` field
    * order). Rows whose diff is empty are suppressed (O5). */
  def updateEventsJson(oldDf: DataFrame, newDf: DataFrame, pkCol: String, keyCol: String): DataFrame = {
    val dataCols = newDf.columns.filter(_ != pkCol)
    val o = oldDf.as("o")
    val n = newDf.as("n")
    val joined = n.join(o, col(s"n.$pkCol") === col(s"o.$pkCol"), "inner")
    val kvs = dataCols.map { c =>
      // JSON-render one scalar portably: to_json(array(x)) = "[<json>]",
      // strip the brackets. NULL renders as "null" (reference preserves
      // JSON nulls, sql_test.go:112-144).
      val j = to_json(array(col(s"n.$c")))
      val scalar = j.substr(lit(2), length(j) - 2)
      when(!(comparable(newDf, "n", c) <=> comparable(oldDf, "o", c)),
        concat(lit("\"" + c + "\":"), scalar))
    }
    // assemble {"k":v,...} from the per-column fragments, skipping nulls
    val body = array_join(filter(array(kvs.toIndexedSeq: _*), _.isNotNull), ",")
    joined.select(
      col(s"o.$keyCol").cast("string").as("external_id"),
      lit("UPDATE").as("statement"),
      concat(lit("{"), body, lit("}")).as("data"))
      .filter(col("data") =!= "{}")
  }

  /** O6 — DELETE capture (`sql/triggers.sql:16-17,30-32`): payload is the
    * empty object; key comes from the OLD row. */
  def deleteEvents(oldDf: DataFrame, tableName: String, keyCol: String): DataFrame =
    oldDf.select(
      col(keyCol).cast("string").as("external_id"),
      lit("DELETE").as("statement"),
      lit("{}").as("data"),
      lit(tableName).as("table_name"))

  /** O7 — queue drain page (`eventqueue/event_queue.go:15-21`):
    * `WHERE processed = false ORDER BY id ASC LIMIT pageSize`.
    * In a distributed engine a global ORDER BY is a single-partition
    * operation; it is retained here because the reference's drain is
    * single-threaded by design. The streaming path ([[graft.streaming.CdcStream]])
    * replaces it with per-key ordering, the same guarantee Kafka gives.
    */
  def drainPage(queue: DataFrame, pageSize: Int = 1000): DataFrame =
    queue.filter(!col("processed")).orderBy(col("id").asc).limit(pageSize)

  /** Keyset-cursor drain — the scale-right successor to the reference's
    * OFFSET-free LIMIT paging (`eventqueue/event_queue.go:29-33` pages
    * by repeated drain+ack): page N+1 filters `id > cursor` (a
    * predicate the scan prunes on) instead of sorting and discarding N
    * pages. `cursorDf` is a 1-row frame (e.g. max id of the previous
    * page) broadcast into the filter. With a literal cursor (the usual
    * API-server case) the predicate pushes into the scan; this in-plan
    * broadcast form evaluates it post-scan but still never sorts or
    * materializes the earlier pages.
    *
    * NULL-cursor contract (ADVICE r15/r16): "no page drained yet"
    * restarts from the head. `cursorDf` is normalized through
    * `agg(max(cursor))`, which always yields exactly one row — a 1-row
    * NULL cursor AND a zero-row frame both become one NULL row (a bare
    * crossJoin of an empty frame would yield an empty page, not a head
    * restart) — and the NULL coalesces to Long.MinValue so page 1 of a
    * fresh drain and page N+1 of a resumed one share the operator. */
  def drainKeyset(queue: DataFrame, cursorDf: DataFrame,
      pageSize: Int = 1000): DataFrame =
    queue.crossJoin(broadcast(
        cursorDf.agg(max(col("cursor")).as("cursor"))))
      .filter(!col("processed") &&
        col("id") > coalesce(col("cursor"), lit(Long.MinValue)))
      .orderBy(col("id").asc).limit(pageSize)

  /** O8 — page-count aggregation (`eventqueue/event_queue.go:29-33,108-117`):
    * ceil(unprocessed / pageSize). Returns a 1-row DataFrame. */
  def pageCount(queue: DataFrame, pageSize: Int = 1000): DataFrame =
    queue.filter(!col("processed"))
      .agg(ceil(count(lit(1)) / pageSize.toDouble).cast("long").as("page_count"))

  /** O9 — ack, batch analog (`eventqueue/event_queue.go:23-27`): marking
    * delivered ids processed ≡ anti-joining the queue against the set of
    * acked ids. In streaming, the checkpoint commit log plays this role.
    * `acked` is expected to be small relative to the queue page → broadcast.
    */
  def ackAntiJoin(queue: DataFrame, acked: DataFrame, idCol: String = "id"): DataFrame =
    queue.join(broadcast(acked), Seq(idCol), "left_anti")

  /** O10 (pure part) — topic naming. Truth table from
    * `main_test.go:157-164` + `main.go:203-222`:
    * prefix("","") = "", prefix("","db") = "db", prefix("ns","") = "ns.",
    * prefix("ns","db") = "ns.db"; topic = "pg2kafka." + prefix + "." + table
    * — with the reference quirk that an empty namespace AND dbname yields
    * "pg2kafka..table" (fmt.Sprintf with empty prefix) — reproduced
    * faithfully, double dots and all. */
  def topicName(namespace: Column, dbname: Column, table: Column): Column = {
    val prefix = when(namespace === "" && dbname === "", lit(""))
      .when(namespace === "", dbname)
      .when(dbname === "", concat(namespace, lit(".")))
      .otherwise(concat(namespace, lit("."), dbname))
    concat(lit("pg2kafka."), prefix, lit("."), table)
  }

  /** `parseDatabaseName` (`main.go:207-213`): the database name is the
    * path component of DATABASE_URL minus the leading "/". The reference
    * fatals on an unparsable URL; this throws for the same contract. */
  def parseDatabaseName(conninfo: String): String = {
    val uri = new java.net.URI(conninfo)
    Option(uri.getPath).getOrElse("").stripPrefix("/")
  }

  /** `parseTopicNamespace` (`main.go:215-222`): prepend the TOPIC_NAMESPACE
    * env (if non-empty) to the database name with a dot. Truth table
    * `main_test.go:157-164`: ("","")→"", ("","world")→"world",
    * ("hello","")→"hello.", ("hello","world")→"hello.world". */
  def parseTopicNamespace(topicNamespace: String, databaseName: String): String =
    if (topicNamespace.nonEmpty) topicNamespace + "." + databaseName
    else databaseName

  /** End-to-end topic derivation as the daemon boots it (`main.go:45-46,
    * 203-205`): namespace from DATABASE_URL path + TOPIC_NAMESPACE env,
    * then `topicName` = "pg2kafka.<namespace>.<table>". */
  def topicNameFromUrl(databaseUrl: String, topicNamespace: String,
      table: String): String =
    s"pg2kafka.${parseTopicNamespace(topicNamespace, parseDatabaseName(databaseUrl))}.$table"

  /** O10 — Kafka-shaped wire projection: the Kafka message for each event.
    * Key = external_id (empty string for NULL → empty Kafka key, the
    * ByteString semantics of `eventqueue/event_queue.go:158-172`),
    * value = JSON envelope {uuid, external_id, statement, data, created_at}
    * (`eventqueue/event_queue.go:41-50` json tags). */
  def toWire(events: DataFrame, namespace: String, dbname: String): DataFrame =
    events.select(
      coalesce(col("external_id"), lit("")).as("key"),
      to_json(
        struct(col("uuid"), col("external_id"), col("statement"),
          col("data"), col("created_at")),
        Map("ignoreNullFields" -> "false")).as("value"),
      topicName(lit(namespace), lit(dbname), col("table_name")).as("topic"))

  /** Envelope finalization: uuid + created_at defaults, as in the queue DDL
    * (`sql/migrations.sql:8,13`). Not used in oracle-gated queries (both
    * are nondeterministic by nature). */
  def finalizeEnvelope(events: DataFrame): DataFrame =
    events
      .withColumn("uuid", expr("uuid()"))
      .withColumn("created_at", current_timestamp())

  /** [[finalizeEnvelope]]'s DETERMINISTIC twin (VERDICT r16 #5 — the
    * envelope's wire fields computed from the event itself, not the
    * wall clock): `uuid` is a NAME-BASED digest — RFC 4122 v3 style,
    * the md5 of the canonical name "graft:<table>:<external_id>:<seq>"
    * formatted 8-4-4-4-12 with the version nibble forced to 3 and the
    * variant nibble to 8 — and `created_at` stamps from the event's
    * own sequence. Production keeps the random-uuid path (two replays
    * of one source row must look like two deliveries there — the
    * uuid-dedup consumer relies on it); THIS form is for replayable /
    * idempotent pipelines, where re-emitting an event must produce the
    * identical wire bytes — and it makes the whole envelope
    * SQL-mirrorable. `created_at_us` rides as unix MICROS (BIGINT) —
    * the integer normalization every gated stream query uses for time
    * columns (parquet timestamp units differ across engines). */
  def finalizeEnvelopeDeterministic(events: DataFrame,
      seq: Column): DataFrame = {
    val h = md5(concat_ws(":", lit("graft"), col("table_name"),
      col("external_id"), col("_seq").cast("string")))
    events
      .withColumn("_seq", seq.cast("long"))
      .withColumn("uuid", concat(
        substring(h, 1, 8), lit("-"), substring(h, 9, 4), lit("-3"),
        substring(h, 14, 3), lit("-8"), substring(h, 18, 3), lit("-"),
        substring(h, 21, 12)))
      .withColumn("created_at_us", expr("_seq * 1000000"))
      .drop("_seq")
  }

  /** Incremental materialized-view maintenance from a CDC delta log —
    * the natural downstream consumer of the queue the reference drains
    * (`sql/triggers.sql` INSERT/UPDATE/DELETE statements): instead of
    * recomputing a grouped aggregate over the full fact table after
    * every change batch, fold the batch into per-key deltas and merge
    * them with the existing view.
    *
    * `deltas` carries one row per change event with its signed
    * contribution to each additive measure: INSERT → (+1, +measure),
    * DELETE → (−1, −measure), UPDATE → (0, new−old). No-op updates
    * (O5 suppression) contribute all-zero rows and may be pre-filtered.
    *
    * The merge is a full-outer join on the group key: groups born in
    * the batch appear via the delta side, groups whose count reaches 0
    * are dropped. At 100 TB the fact table is never touched — the cost
    * is one partial-aggregated shuffle of the (small) change batch plus
    * a key-partitioned merge against the view, both linear in
    * |batch| + |view|, not |fact|.
    *
    * `base` and `deltas` must share `keyCols`; every other column of
    * `base` must exist in `deltas` as the signed per-event delta of the
    * same name. */
  def applyAggDeltas(base: DataFrame, deltas: DataFrame,
      keyCols: Seq[String], countCol: String): DataFrame = {
    val measureCols = base.columns.filterNot(keyCols.contains)
    require(measureCols.contains(countCol),
      s"count column $countCol must be one of the view's measures")
    val folded = deltas.groupBy(keyCols.map(col): _*)
      .agg(sum(col(measureCols.head)).as(measureCols.head),
        measureCols.tail.map(c => sum(col(c)).as(c)): _*)
    val merged = base.as("b").join(folded.as("d"),
      keyCols.map(k => col(s"b.$k") <=> col(s"d.$k")).reduce(_ && _),
      "full_outer")
    val keyExprs = keyCols.map(k =>
      coalesce(col(s"b.$k"), col(s"d.$k")).as(k))
    val measureExprs = measureCols.map(c =>
      (coalesce(col(s"b.$c"), lit(0L)) + coalesce(col(s"d.$c"), lit(0L))).as(c))
    merged.select(keyExprs ++ measureExprs: _*)
      .filter(col(countCol) > 0)
  }
}
