package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorFunctions.cosine_sim

/** Catalog entry for one collection — mirrors the reference collection header
  * (`/root/reference/collection/collection.go:13-17`): id + embedderId; the
  * record map becomes a Parquet-backed DataFrame at `path` (version-bumped on
  * delete: Parquet is immutable, so record deletion is copy-on-write into a
  * fresh version directory — the 100 TB pattern, where "delete" rewrites only
  * the affected partitions' files and flips a manifest pointer).
  */
final case class CollectionMeta(id: String, embedderId: String, path: String, version: Int = 0) {
  override def toString: String = PrettyPrint.collection(id, embedderId)
}

/** The engine's database surface — O2, O5–O17 from SURVEY.md §2.1,
  * re-expressed over a collection catalog + Parquet-backed record sets.
  *
  * Error semantics (message text included) are pinned to the reference:
  *  - duplicate collection add     `/root/reference/database/database.go:100-103`
  *  - missing collection get       `database/database.go:118-124`
  *  - missing collection delete    `database/database.go:126-137`
  *  - AddRecord's three validations `collection/collection.go:32-45`
  *  - missing record get/delete    `collection/collection.go:47-62`
  *
  * Unlike the reference's resident `map[string]Record`, records live in
  * Parquet (columnar, vectorized scan, partitionable across executors);
  * the catalog itself is tiny driver-side metadata, as a real cluster
  * catalog (HMS/Unity/Glue) would be.
  */
final class GraftDatabase(val spark: SparkSession, val basePath: String) {

  private val collections = TrieMap[String, CollectionMeta]()
  private val indexes = TrieMap[String, IndexMeta]() // see "secondary-index lifecycle"

  /** Two-level mutation locking — the Spark counterpart of the reference's
    * collection-map mutex (`database/database.go:105-106`), split so that
    * one collection's ingest never stalls another's:
    *
    *  - [[mutationLockFor]] (per collection) serializes every DATA
    *    mutation in that collection's copy-on-write protocol — appends,
    *    duplicate-id check-then-append windows, delete/compact staleness
    *    re-checks and pointer swaps. Two sinks feeding DIFFERENT
    *    collections proceed fully in parallel.
    *  - [[manifestLock]] (global) serializes writers of the shared
    *    `_catalog.json` only — two unsynchronized overwriting writers
    *    could interleave and corrupt it.
    *
    * Lock order is always collection lock → manifest lock, never the
    * reverse (no deadlock). Reads take neither: readers see either the
    * old or the new version of a swap, both complete. */
  private val collectionLocks = TrieMap.empty[String, Object]
  private def mutationLockFor(id: String): Object =
    collectionLocks.getOrElseUpdate(id, new Object)
  private val manifestLock = new Object

  loadManifest()
  loadIndexManifest()

  // --- collection CRUD (O11–O16) ---------------------------------------

  /** O11 MakeCollection — validates the embedder resolves
    * (`collection/collection.go:19-26`). */
  def makeCollection(id: String, embedderId: String): CollectionMeta = {
    if (!Embedders.contains(embedderId))
      throw new GraftException("Invalid embedder name")
    CollectionMeta(id, embedderId, s"$basePath/$id/v0")
  }

  /** O12 AddCollection (`database/database.go:99-110`). Under the
    * [[manifestLock]]: every writer of the manifest file must be
    * serialized (two unsynchronized overwriting writers can interleave
    * and corrupt `_catalog.json`); the map insert itself is atomic. */
  def addCollection(meta: CollectionMeta): Unit = manifestLock.synchronized {
    collections.putIfAbsent(meta.id, meta).foreach { _ =>
      throw new GraftException(
        s"Cannot create collection ${meta.id}: a collection with id ${meta.id} already exists")
    }
    saveManifest()
  }

  /** O13 GetCollection (`database/database.go:118-124`). */
  def getCollection(id: String): CollectionMeta =
    collections.getOrElse(id, throw new GraftException(
      s"Could not get collection - no collection with ID $id exists in the database"))

  /** O14 DeleteCollection (`database/database.go:126-137`) — also drops the
    * backing data (all versions under the collection's directory); the
    * reference's map-entry removal frees its in-memory records, and the
    * Parquet analog of that is deleting the files. */
  def deleteCollection(id: String): Unit = mutationLockFor(id).synchronized {
    // under the lock: removing the entry AND its directory must not
    // interleave with a compact/delete swap on the same collection (a
    // compact completing after the remove would resurrect the entry,
    // pointing at a directory this method just deleted)
    collections.remove(id).getOrElse(
      throw new GraftException(s"Cannot delete collection $id: does not exist"))
    val dir = new HPath(s"$basePath/$id")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(dir)) fs.delete(dir, true)
    manifestLock.synchronized(saveManifest())
    // drop the lock entry too, or create/delete churn leaks one lock
    // object per id forever; a stale waiter on the old object fails at
    // getCollection anyway (the entry is gone)
    collectionLocks.remove(id)
  }

  /** Catalog listing as a DataFrame (the relational view of O15). */
  def listCollections(): DataFrame = {
    import spark.implicits._
    collections.values.toSeq.sortBy(_.id)
      .map(m => (m.id, m.embedderId, m.path, m.version))
      .toDF("id", "embedderId", "path", "version")
  }

  /** O15 GetCollections (`database/database.go:139-144`). */
  def getCollections: Map[String, CollectionMeta] = collections.toMap

  /** O16 isCollectionInDB (`database/database.go:112-116`). */
  def isCollectionInDB(id: String): Boolean = collections.contains(id)

  // --- record access -----------------------------------------------------

  /** The collection's records as a DataFrame with the canonical schema; an
    * empty collection (nothing written yet) reads as an empty DataFrame.
    * Existence goes through the Hadoop FileSystem API, so collection paths
    * may live on any supported filesystem (HDFS/S3/local), not just the
    * driver's local disk. */
  def records(collectionId: String): DataFrame = {
    val meta = getCollection(collectionId)
    if (pathExists(meta.path)) spark.read.schema(Record.schema).parquet(meta.path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Record.schema)
  }

  private val registeredViews = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Expose a collection to pure-SQL sessions as a temp view named
    * `graft_<collectionId>` (non-alphanumeric id chars mapped to `_`).
    * Sanitization can collide ("my-docs" / "my.docs"); a collision with a
    * DIFFERENT collection's view errors instead of silently rebinding it.
    * With [[graft.GraftExtensions]] injecting `cosine_sim`, the whole
    * query surface is then reachable from SQL alone:
    * {{{ SELECT id, cosine_sim(embedding, ...) s FROM graft_docs ORDER BY s DESC LIMIT 10 }}} */
  def registerView(collectionId: String): String = {
    val view = "graft_" + collectionId.map(c => if (c.isLetterOrDigit) c else '_')
    registeredViews.putIfAbsent(view, collectionId).foreach { owner =>
      if (owner != collectionId)
        throw new GraftException(
          s"view name $view already registered for collection $owner " +
            s"(ids collide after sanitization); rename one collection")
    }
    records(collectionId).createOrReplaceTempView(view)
    view
  }

  private def pathExists(p: String): Boolean = {
    val hp = new HPath(p)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).exists(hp)
  }

  // --- catalog durability -------------------------------------------------
  // The reference's catalog lives and dies with the process
  // (`database/database.go:29`); a Parquet-backed database should survive a
  // restart, so every catalog mutation rewrites a tiny JSON manifest next to
  // the data and `make()` restores from it.

  private def manifestPath = new HPath(s"$basePath/_catalog.json")

  private def saveManifest(): Unit = {
    val fs = manifestPath.getFileSystem(Tables.writeConf(spark))
    val entries = collections.values.toSeq.sortBy(_.id).map { m =>
      s"""{"id":${jstr(m.id)},"embedderId":${jstr(m.embedderId)},"path":${jstr(m.path)},"version":${m.version}}"""
    }
    val out = fs.create(manifestPath, true)
    try out.write(entries.mkString("[", ",", "]").getBytes("UTF-8"))
    finally out.close()
  }

  private def loadManifest(): Unit = {
    val fs = manifestPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(manifestPath)) {
      val in = fs.open(manifestPath)
      val bytes = try in.readAllBytes() finally in.close()
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
      root.forEach { n =>
        collections.put(n.path("id").asText(), CollectionMeta(
          n.path("id").asText(), n.path("embedderId").asText(),
          n.path("path").asText(), n.path("version").asInt()))
      }
    }
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  // --- record CRUD (O5–O10) ---------------------------------------------

  /** O5/O6 AddRecord — the reference's three validations, in its order
    * (`collection/collection.go:32-45`), after a NULL-id check: a record
    * without an id could never be read back by [[getRecord]]. The whole
    * check+append runs under the collection's mutation lock (as the
    * reference's mutex does): a duplicate-id check outside it would let two
    * concurrent adds of the same id both pass and both append. */
  def addRecord(collectionId: String, record: Record): Unit =
    mutationLockFor(collectionId).synchronized {
    val meta = getCollection(collectionId)
    if (record.id == null)
      throw new GraftException(s"Record id is null for ${PrettyPrint.record(record)}")
    if (records(collectionId).where(col("id") === record.id).limit(1).count() > 0)
      throw new GraftException(
        s"Record ${record.id} already exists in collection ${meta.id}\n")
    if (meta.embedderId != record.embedderId)
      throw new GraftException(
        s"Record embedderId ${record.embedderId} != collection embedderId ${meta.embedderId}")
    if (record.embedding == null)
      throw new GraftException(s"Embedding for ${PrettyPrint.record(record)} is null")
    appendRows(meta, Seq(record))
  }

  /** Bulk AddRecord — the scale path. Validations are vectorized: one pass
    * flags NULL ids, embedder mismatches and null embeddings; duplicate
    * detection is a groupBy within the batch plus a broadcast-friendly
    * semi-join against the existing collection (not a per-record point
    * lookup — the reference does one hash probe per record,
    * `collection.go:33`; at 100 TB that must be a single distributed
    * anti-join). First offending ids are reported.
    *
    * The batch is evaluated ONCE: its [[Record.schema]] projection is
    * persisted at entry and the audit, the semi-join and the write all read
    * that one frame, which is released on return and on every validation
    * error. A batch is typically a lazy chunk → embed lineage, and without
    * the cache each of the three actions would re-run it — three embedder
    * calls per record, where the reference embeds each record once, when it
    * is made (`records/records.go:81-92`). A batch the caller already
    * persisted is read as given and left persisted, so the same rows are
    * never cached twice.
    *
    * The cost is a full copy of the projected batch held by the executors
    * for the call, in memory and spilled to executor-local disk past that:
    * at 100 TB a batch needs local disk about its own embedded size. That
    * is traded against re-running the lineage twice more, which wins when
    * the lineage embeds (measured on `serve_mixed`'s chunk → embed set-up)
    * and may not when it is a cheap parquet re-read, as for
    * `CatalogOps.database` and `CollectionIO.importCollection` (not
    * measured). */
  def addRecords(collectionId: String, batch: DataFrame): Unit = {
    val meta = getCollection(collectionId)
    val owned = batch.storageLevel == StorageLevel.NONE
    val projected = batch.select(Record.schema.fieldNames.map(col).toIndexedSeq: _*)
    val rows = if (owned) projected.persist(StorageLevel.MEMORY_AND_DISK) else projected
    try appendBatch(meta, rows)
    finally if (owned) rows.unpersist(false)
  }

  /** [[addRecords]]' validations and append over its one evaluated frame. */
  private def appendBatch(meta: CollectionMeta, rows: DataFrame): Unit = {
    // All four in-batch validations in ONE aggregation job (small samples
    // of offending ids collected for the error text), then the
    // duplicate-vs-existing semi-join as a second job, then the write.
    // NULL ids group together: `nullIds` is that group's row count.
    val audit = rows
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n"),
        max(when(col("embedderId") =!= lit(meta.embedderId), col("embedderId"))).as("badEmb"),
        max(when(col("embedding").isNull, lit(1)).otherwise(lit(0))).as("nullEmb"))
      .agg(
        max(when(col("id").isNull, col("n"))).as("nullIds"),
        slice(collect_list(when(col("badEmb").isNotNull, col("badEmb"))), 1, 1).as("mismatch"),
        slice(collect_list(when(col("nullEmb") === 1, col("id"))), 1, 3).as("nulls"),
        slice(collect_list(when(col("n") > 1, col("id"))), 1, 3).as("dups"))
      .collect()

    audit.headOption.foreach { r =>
      val mismatch = r.getSeq[String](1)
      val nulls = r.getSeq[String](2)
      val dups = r.getSeq[String](3)
      if (!r.isNullAt(0))
        throw new GraftException(s"Record id is null for ${r.getLong(0)} records in batch")
      if (mismatch.nonEmpty)
        throw new GraftException(
          s"Record embedderId ${mismatch.head} != collection embedderId ${meta.embedderId}")
      if (nulls.nonEmpty)
        throw new GraftException(
          s"Embedding is null for record ids: ${nulls.mkString(", ")}")
      if (dups.nonEmpty)
        throw new GraftException(
          s"Duplicate record ids within batch: ${dups.mkString(", ")}")
    }

    // duplicate-vs-existing check AND the append inside ONE lock section:
    // checked outside it, two concurrent adds of the same new id both
    // pass and both append (the check-then-act race the lock exists for).
    // The path is re-resolved inside too — a concurrent compact may have
    // swapped versions since the batch-internal validation above.
    mutationLockFor(meta.id).synchronized {
      val dupExisting = rows.join(records(meta.id), Seq("id"), "left_semi")
        .select("id").limit(3).collect()
      if (dupExisting.nonEmpty)
        throw new GraftException(
          s"Record ${dupExisting.head.getString(0)} already exists in collection ${meta.id}\n")

      Tables.write(rows).mode("append").parquet(getCollection(meta.id).path)
    }
  }

  /** O7/O8 GetRecord — predicate-pushdown point scan
    * (`collection/collection.go:56-62`). A plain filtered `collect()`: ids
    * are unique within a collection (appends reject duplicates), so it
    * returns at most one row, in ONE job over all files — a `limit(1)`
    * would scan partitions incrementally and take a second job after a
    * miss in the first. */
  def getRecord(collectionId: String, recordId: String): Record = {
    val rows = records(collectionId).where(col("id") === recordId).collect()
    val row = rows.headOption.getOrElse(throw new GraftException(
      s"Could not get record - record with ID $recordId does not exist in collection"))
    Record(
      id = row.getString(0),
      embedderId = row.getString(1),
      blob = row.getAs[Array[Byte]](2),
      embedding = Option(row.getSeq[Double](3)).map(_.toArray).orNull)
  }

  /** O9/O10 DeleteRecord — copy-on-write rewrite into a writer-private
    * next-version dir (`collection/collection.go:47-54` semantics; Parquet
    * is immutable). Same concurrency shape as [[compactImpl]]: the
    * expensive full-collection rewrite runs OUTSIDE the collection's mutation lock
    * (a delete must not stall ingestion for the rewrite's duration), then
    * the staleness re-check and pointer swap run inside it — a concurrent
    * append or version swap discards this rewrite with a retryable error
    * rather than silently dropping the concurrent rows. */
  def deleteRecord(collectionId: String, recordId: String): Unit = {
    val meta = getCollection(collectionId)
    // staleness token BEFORE the read snapshot (compactImpl's ordering):
    // captured after it, an append landing between the snapshot's frozen
    // file listing and the token would be invisible to BOTH — in the
    // rewrite (snapshot predates it) and in the re-check (token includes
    // it) — and its rows silently dropped by the swap
    val fs = new HPath(meta.path).getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new HPath(meta.path))) // empty collection: nothing to delete
      throw new GraftException(
        s"Could not delete record $recordId from collection ${meta.id}: record not found in collection")
    val parts = listingOf(fs, meta.path)
    val existing = records(collectionId)
    if (existing.where(col("id") === recordId).limit(1).count() == 0)
      throw new GraftException(
        s"Could not delete record $recordId from collection ${meta.id}: record not found in collection")
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val next = meta.copy(path = s"$basePath/${meta.id}/v${meta.version + 1}-d$nonce",
                         version = meta.version + 1)
    Tables.write(existing.where(col("id") =!= recordId))
      .mode("overwrite").parquet(next.path)
    mutationLockFor(meta.id).synchronized {
      // a concurrent deleteCollection (or delete+recreate) can remove the
      // source path out from under the listing re-check: FileNotFound IS
      // staleness, not an internal error — discard the rewrite and throw
      // the same retryable signal instead of leaking a raw Hadoop exception
      // (and the writer-private rewrite dir with it)
      val stale =
        try !collections.get(meta.id).contains(meta) || listingOf(fs, meta.path) != parts
        catch { case _: java.io.FileNotFoundException => true }
      if (stale) {
        fs.delete(new HPath(next.path), true)
        throw new GraftException(
          s"Could not delete record $recordId from collection ${meta.id}: " +
            "collection changed during the delete rewrite; retry")
      }
      collections.put(meta.id, next)
      manifestLock.synchronized(saveManifest())
    }
  }

  /** Stable file listing of a version directory — the staleness token the
    * copy-on-write writers re-check before their pointer swap. */
  private def listingOf(fs: org.apache.hadoop.fs.FileSystem,
                        path: String): Seq[(String, Long)] =
    fs.listStatus(new HPath(path))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.getName, s.getLen)).sortBy(_._1).toSeq

  /** Small-file compaction — maintenance for continuously-ingested
    * collections: every micro-batch/bulk add appends its own file set, and
    * after enough appends a scan's cost is dominated by file opens and
    * parquet footer reads, not data. Rewrite the collection into the next
    * version directory with output files sized near `targetFileBytes`
    * (count derived from the CURRENT on-disk footprint), then swap the
    * catalog pointer — the same copy-on-write contract as
    * [[deleteRecord]]: readers of the old version are undisturbed and the
    * swap is atomic at the catalog. Returns (filesBefore, filesAfter),
    * where filesAfter is the count actually written, not the requested
    * partition count (AQE / empty partitions can make them differ).
    *
    * Concurrency contract: an append that lands between the source
    * listing and the manifest swap would otherwise be silently dropped —
    * the rewrite read the old file set, and the swap would point the
    * catalog away from the file the append just wrote (lost update, on
    * exactly the continuously-ingested collections this method exists
    * for). The expensive rewrite runs WITHOUT the collection's mutation lock (long
    * Spark job, appends proceed concurrently); the staleness re-check and
    * pointer swap then run INSIDE it, so no mutation can land between
    * check and swap. Staleness is detected two ways: the file listing
    * (concurrent appends) and catalog-meta equality (a concurrent
    * deleteRecord swaps the version without touching the old path's
    * files). On either, the rewrite is discarded and the call fails,
    * leaving the current version — including the concurrent mutation —
    * intact. The caller retries in a quiet window. */
  def compact(collectionId: String, targetFileBytes: Long = 128L << 20): (Int, Int) =
    compactImpl(collectionId, targetFileBytes, () => ())

  /** Test seam: `afterRewrite` runs between the rewrite and the pre-swap
    * listing re-check, where a concurrent append would race the swap. */
  private[graft] def compactImpl(collectionId: String, targetFileBytes: Long,
                                 afterRewrite: () => Unit): (Int, Int) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    val meta = getCollection(collectionId)
    val hp = new HPath(meta.path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hp)) return (0, 0) // empty collection: nothing to compact
    def listing(): Seq[(String, Long)] = listingOf(fs, meta.path)
    val parts = listing()
    val totalBytes = parts.map(_._2).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)

    // writer-PRIVATE rewrite directory: a concurrent deleteRecord computes
    // the same v{n+1} name from the same observed version, so a shared
    // name would let two copy-on-write writers overwrite each other — and
    // the aborted compact's cleanup would then delete the LIVE version
    // the delete just installed. Unique suffix ⇒ cleanup can only ever
    // remove this writer's own uncommitted data.
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val next = meta.copy(path = s"$basePath/${meta.id}/v${meta.version + 1}-c$nonce",
                         version = meta.version + 1)
    val nextHp = new HPath(next.path)
    Tables.write(records(collectionId).repartition(nFiles))
      .mode("overwrite").parquet(next.path)
    afterRewrite()
    // swap under the mutation lock: appends/deletes cannot land between
    // the re-check and the pointer swap. TWO staleness checks — the
    // listing catches appended/removed files in the source version, the
    // meta equality catches a version swap by a concurrent deleteRecord
    // (which changes no files under the OLD path, so the listing alone
    // would miss it and the swap would resurrect the deleted record).
    mutationLockFor(meta.id).synchronized {
      // see deleteRecord: a concurrent deleteCollection removes the source
      // path — FileNotFound in the re-check is staleness, handled the same
      val stale =
        try !collections.get(meta.id).contains(meta) || listing() != parts
        catch { case _: java.io.FileNotFoundException => true }
      if (stale) {
        fs.delete(nextHp, true) // discard the stale rewrite; current version untouched
        throw new GraftException(
          s"Could not compact collection ${meta.id}: files were added or removed " +
            "during compaction; retry when ingestion is quiescent")
      }
      val written = fs.listStatus(nextHp)
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      collections.put(meta.id, next)
      manifestLock.synchronized(saveManifest())
      (parts.length, written)
    }
  }

  // --- secondary-index lifecycle -----------------------------------------
  // Indexes (ANN signature tables, IVF cell partitions, PQ code tables) are
  // catalog objects with the same durability contract as collections: tiny
  // driver-side metadata in a manifest, immutable versioned data dirs,
  // copy-on-write rebuilds. See [[IndexMeta]]/[[IndexPolicy]].

  /** Content fingerprint of an index source; see
    * [[GraftDatabase.sourceFingerprint]]. */
  def sourceFingerprint(sourcePath: String): String =
    GraftDatabase.sourceFingerprint(spark, sourcePath)

  /** Build (or rebuild) an index: allocate the next writer-private version
    * directory, run `build` into it, then register the entry and persist the
    * manifest. The fingerprint is captured BEFORE the build reads the source
    * (same token ordering as [[deleteRecord]]: captured after, a concurrent
    * append would be invisible to both the build and every later staleness
    * check). Registration is LAST, so a crash mid-build leaves only an
    * unregistered scratch dir — never a manifest entry pointing at a partial
    * index. A rebuild ONLY swaps the pointer: the superseded version dir is
    * retained so a query that resolved its path before the swap keeps a
    * live directory (a lazy DataFrame lists its files at construction and
    * would otherwise crash mid-collect); [[vacuumIndexes]] is the explicit
    * GC for superseded versions, run in quiet windows.
    *
    * Builds of the SAME index serialize per (database, name) — two
    * first-touch probes racing a build run it once each into private dirs,
    * last registration wins and the loser's dir is vacuumable. */
  def buildIndex(name: String, kind: String, sourcePath: String,
                 params: Map[String, String])(build: String => Unit): IndexMeta =
    GraftDatabase.indexBuildLock(basePath, name).synchronized {
      val fp = sourceFingerprint(sourcePath)
      val old = indexes.get(name)
      val version = old.map(_.version + 1).getOrElse(0)
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val path = s"$basePath/_indexes/$name/v$version-$nonce"
      build(path)
      val meta = IndexMeta(name, kind, sourcePath, params, path, fp, version)
      indexes.put(name, meta)
      persistIndexDelta(name, Some(meta))
      meta
    }

  /** Delete index data the current registry does not reference: superseded
    * version dirs and orphans from crashed or lost-race builds. EXPLICIT
    * maintenance — rebuilds never delete (see [[buildIndex]]), so in-flight
    * readers of a superseded version survive until the orchestrator decides
    * the quiet window has arrived. */
  def vacuumIndexes(): Unit = {
    val root = new HPath(s"$basePath/_indexes")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    // Per-name build lock, THEN manifest lock (inside readIndexManifest) —
    // the same order buildIndex takes them (indexBuildLock →
    // persistIndexDelta), so no ABBA deadlock. Holding the name's build
    // lock means no build of that name is in flight: buildIndex registers
    // last INSIDE the lock, so a version dir that is absent from the
    // manifest here is a crashed/lost-race leftover, never a
    // not-yet-registered in-flight build whose data we'd be deleting out
    // from under it.
    fs.listStatus(root).foreach(nameDir => vacuumOneIndex(fs, nameDir.getPath))
  }

  /** Name-scoped [[vacuumIndexes]] — GC superseded/orphan versions of ONE
    * index. This is the form a long-running admission gate calls after a
    * RebuildIfStale replacement: it touches only the index the gate itself
    * just superseded, so other indexes' retained versions (which may have
    * concurrent readers outside the gate's knowledge) are left alone. */
  def vacuumIndex(name: String): Unit = {
    val nameDir = new HPath(s"$basePath/_indexes/$name")
    val fs = nameDir.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(nameDir)) vacuumOneIndex(fs, nameDir)
  }

  private def vacuumOneIndex(fs: org.apache.hadoop.fs.FileSystem,
                             nameDir: HPath): Unit = {
    val name = nameDir.getName
    GraftDatabase.indexBuildLock(basePath, name).synchronized {
      val current = readIndexManifest()
        .find(_.name == name).map(_.path.split('/').last)
      current match {
        case None => fs.delete(nameDir, true)
        case Some(currentVersionDir) =>
          if (fs.exists(nameDir))
            fs.listStatus(nameDir)
              .filter(_.getPath.getName != currentVersionDir)
              .foreach(v => fs.delete(v.getPath, true))
      }
    }
  }

  def getIndex(name: String): IndexMeta =
    indexes.getOrElse(name, throw new GraftException(
      s"Index $name is not built; call buildIndex or probe with BuildIfMissing"))

  def isIndexRegistered(name: String): Boolean = indexes.contains(name)

  /** True iff the source content has changed since the index was built. */
  def isIndexStale(name: String): Boolean = {
    val m = getIndex(name)
    sourceFingerprint(m.sourcePath) != m.fingerprint
  }

  /** Drop the index entry and its backing data (all versions). */
  def dropIndex(name: String): Unit =
    GraftDatabase.indexBuildLock(basePath, name).synchronized {
      indexes.remove(name).getOrElse(
        throw new GraftException(s"Cannot drop index $name: does not exist"))
      persistIndexDelta(name, None)
      val hp = new HPath(s"$basePath/_indexes/$name")
      val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(hp)) fs.delete(hp, true)
    }

  /** Catalog listing of registered indexes as a DataFrame. */
  def listIndexes(): DataFrame = {
    import spark.implicits._
    indexes.values.toSeq.sortBy(_.name)
      .map(m => (m.name, m.kind, m.sourcePath,
        m.params.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","),
        m.path, m.fingerprint, m.version))
      .toDF("name", "kind", "sourcePath", "params", "path", "fingerprint", "version")
  }

  /** Probe-side resolution: return a current, definition-matching index per
    * `policy` (see [[IndexPolicy]]). An existing entry whose kind, source, or
    * params differ from the request is never served — it answers a different
    * question — and ONLY [[IndexPolicy.RebuildIfStale]] may replace it:
    * letting BuildIfMissing rebuild on mismatch would let two read-only
    * probes with different definitions ping-pong full corpus rewrites
    * against each other; a definition conflict under a shared name is an
    * orchestration error to surface, not to paper over. Staleness (source
    * changed since build) likewise errors under everything but
    * RebuildIfStale. */
  def resolveIndex(name: String, kind: String, sourcePath: String,
                   params: Map[String, String], policy: IndexPolicy)
                  (build: String => Unit): IndexMeta = {
    def rebuild() = buildIndex(name, kind, sourcePath, params)(build)
    indexes.get(name) match {
      case None =>
        if (policy == IndexPolicy.FailIfMissing)
          throw new GraftException(
            s"Index $name is not built; call buildIndex or probe with BuildIfMissing")
        rebuild()
      case Some(m) if m.kind != kind || m.sourcePath != sourcePath || m.params != params =>
        if (policy == IndexPolicy.RebuildIfStale) rebuild()
        else throw new GraftException(
          s"Index $name was built as (kind=${m.kind}, source=${m.sourcePath}, " +
            s"params=${m.params.toSeq.sorted.mkString(",")}) but the probe wants " +
            s"(kind=$kind, source=$sourcePath, params=${params.toSeq.sorted.mkString(",")}); " +
            "drop it or rebuild under the new definition")
      case Some(m) =>
        if (sourceFingerprint(sourcePath) == m.fingerprint) m
        else if (policy == IndexPolicy.RebuildIfStale) rebuild()
        else throw new GraftException(
          s"Index $name is stale: source $sourcePath changed since the build; " +
            "rebuild it (RebuildIfStale / buildIndex) or drop it")
    }
  }

  private def indexManifestPath = new HPath(s"$basePath/_indexcat.json")

  /** Persist one index-entry delta (upsert or removal) by READ-MERGE-WRITE
    * under the process-wide per-basePath [[GraftDatabase.manifestIoLock]]:
    * registry instances are created per operator call
    * (`CatalogOps.indexRegistry`), so overwriting the file from one
    * instance's whole in-memory map would erase entries other instances
    * registered since this one loaded — two jobs first-touching DIFFERENT
    * indexes on the same database must both survive. Entries merged in
    * from disk also refresh this instance's view of indexes it does not
    * own. The write goes through a temp file + rename so a concurrent
    * reader never parses a half-written manifest; same-process readers all
    * go through [[readIndexManifest]], which takes this same lock, so the
    * brief no-file window of the delete+rename pair is invisible to them
    * (cross-PROCESS writers additionally need an external coordinator,
    * exactly like the collection manifest). */
  private def persistIndexDelta(name: String, entry: Option[IndexMeta]): Unit =
    GraftDatabase.manifestIoLock(basePath).synchronized {
      val disk = scala.collection.mutable.LinkedHashMap.empty[String, IndexMeta]
      readIndexManifest().foreach(m => disk.put(m.name, m))
      entry match {
        case Some(m) => disk.put(name, m)
        case None    => disk.remove(name)
      }
      disk.foreach { case (n, m) => if (n != name) indexes.put(n, m) }
      val fs = indexManifestPath.getFileSystem(Tables.writeConf(spark))
      val entries = disk.values.toSeq.sortBy(_.name).map { m =>
        val ps = m.params.toSeq.sorted
          .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
        s"""{"name":${jstr(m.name)},"kind":${jstr(m.kind)},"sourcePath":${jstr(m.sourcePath)},""" +
          s""""params":$ps,"path":${jstr(m.path)},"fingerprint":${jstr(m.fingerprint)},""" +
          s""""version":${m.version}}"""
      }
      val tmp = new HPath(s"$basePath/_indexcat.json.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(entries.mkString("[", ",", "]").getBytes("UTF-8"))
      finally out.close()
      if (fs.exists(indexManifestPath)) fs.delete(indexManifestPath, false)
      if (!fs.rename(tmp, indexManifestPath))
        throw new GraftException(
          s"Failed to publish index manifest $indexManifestPath")
    }

  /** Parse the on-disk index manifest (empty when absent). Takes the
    * process-wide [[GraftDatabase.manifestIoLock]] so a same-process reader
    * can never observe [[persistIndexDelta]]'s delete→rename no-file window
    * (which would read as an empty registry and spuriously fail a
    * FailIfMissing gate or trigger a redundant BuildIfMissing rebuild).
    * Reentrant from persistIndexDelta/vacuumIndexes, which already hold it;
    * cross-PROCESS readers still need the external coordinator. */
  private def readIndexManifest(): Seq[IndexMeta] =
    GraftDatabase.manifestIoLock(basePath).synchronized {
      readIndexManifestUnlocked()
    }

  private def readIndexManifestUnlocked(): Seq[IndexMeta] = {
    val fs = indexManifestPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(indexManifestPath)) Seq.empty
    else {
      val in = fs.open(indexManifestPath)
      val bytes = try in.readAllBytes() finally in.close()
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
      val out = scala.collection.mutable.ArrayBuffer.empty[IndexMeta]
      root.forEach { n =>
        val params = scala.collection.mutable.LinkedHashMap.empty[String, String]
        n.path("params").properties().forEach(e => params += e.getKey -> e.getValue.asText())
        out += IndexMeta(
          n.path("name").asText(), n.path("kind").asText(),
          n.path("sourcePath").asText(), params.toMap,
          n.path("path").asText(), n.path("fingerprint").asText(),
          n.path("version").asInt())
      }
      out.toSeq
    }
  }

  private def loadIndexManifest(): Unit =
    readIndexManifest().foreach(m => indexes.put(m.name, m))

  // --- query (O1/O2) -----------------------------------------------------

  /** O2 → O1: embed the query blob with the collection's embedder, then
    * exact top-k cosine over the collection (`database/database.go:67-73` →
    * `collection/collection.go:64-151`). Deterministic tie-break
    * `score DESC, id ASC`; scores rounded to 6 dp for cross-engine rank
    * stability (SURVEY.md §2.2). */
  def query(collectionId: String, queryBlob: Array[Byte], k: Int): DataFrame = {
    val meta = getCollection(collectionId)
    queryByVector(collectionId, Embedders.get(meta.embedderId)(queryBlob), k)
  }

  /** O1 with a caller-supplied vector (extension: the reference always embeds
    * the query text, `collection.go:66-73`; a precomputed-vector entry point
    * is what a batch pipeline actually calls). */
  def queryByVector(collectionId: String, queryVec: Array[Double], k: Int): DataFrame =
    records(collectionId)
      .select(col("id"),
        round(cosine_sim(col("embedding"), typedLit(queryVec)), 6).as("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(k)

  private def appendRows(meta: CollectionMeta, rows: Seq[Record]): Unit = {
    val data = rows.map(r => Row(r.id, r.embedderId, r.blob,
      Option(r.embedding).map(_.toSeq).orNull))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(data, 1), Record.schema)
    // resolve the CURRENT version path inside the lock: a compact()
    // version swap between validation and write would otherwise strand
    // this append in the abandoned old directory
    mutationLockFor(meta.id).synchronized {
      Tables.write(df).mode("append").parquet(getCollection(meta.id).path)
    }
  }
}

object GraftDatabase {
  /** Content fingerprint of an index source: md5 over the sorted recursive
    * (relative path, length) listing of its parquet files. Detects appends,
    * rewrites, and version swaps without reading data — a driver-side
    * metadata operation even at 100 TB (file listings, not file contents;
    * the same staleness currency [[GraftDatabase.compact]] and
    * [[GraftDatabase.deleteRecord]] use).
    *
    * The walk is `listStatus` per directory, not `listFiles(_, true)`:
    * `listFiles` wraps every file in a `LocatedFileStatus`, whose
    * constructor loads the file's permissions, and on a local file system
    * without Hadoop's native library each such load forks an `ls -ld`
    * process — one fork per file on every staleness check. The
    * fingerprint needs only the path and the length, which `listStatus`
    * returns without a fork. Both walks visit the same files (hidden and
    * `_temporary` dirs included), so the md5 is byte-identical and
    * fingerprints already stored in index manifests stay valid. */
  def sourceFingerprint(spark: SparkSession, sourcePath: String): String = {
    val hp = new HPath(sourcePath)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hp))
      throw new GraftException(s"Index source $sourcePath does not exist")
    val root = fs.getFileStatus(hp)
    val base = root.getPath.toString // scheme-qualified
    def files(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files) else Seq(st)
    val entries = files(root).map(s => (s.getPath.toString, s.getLen))
      .collect { case (p, len) if p.endsWith(".parquet") => s"${p.stripPrefix(base)}|$len" }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(entries.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** O17 MakeDatabase (`database/database.go:32-35`). */
  def make(spark: SparkSession, basePath: String): GraftDatabase =
    new GraftDatabase(spark, basePath)

  /** Process-wide per-(database, index) build locks: [[make]] hands out a
    * fresh instance per call, so instance-level locks would not serialize
    * two instances building the same index into the same basePath. */
  private val indexBuildLocks = TrieMap.empty[String, Object]
  private[core] def indexBuildLock(basePath: String, name: String): Object =
    indexBuildLocks.getOrElseUpdate(s"$basePath|$name", new Object)

  /** Process-wide per-database index-MANIFEST lock: serializes the
    * read-merge-write in [[GraftDatabase.persistIndexDelta]] across
    * instances — builds of DIFFERENT indexes hold different build locks
    * but still contend on the one manifest file. */
  private val manifestIoLocks = TrieMap.empty[String, Object]
  private[core] def manifestIoLock(basePath: String): Object =
    manifestIoLocks.getOrElseUpdate(basePath, new Object)
}
