package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, expr, lit, max, min}

/** Sink nodes (reference `PrinterOfThings` node.py:1412, `BlackHole`
  * node.py:1705, recorder `metalpipe_recorder.py`).
  *
  * In Spark a "sink" is an action; everything upstream stays a lazy plan.
  */
object Sinks {

  /** Print up to `n` rows (reference PrinterOfThings). */
  def printer(df: DataFrame, n: Int = 20, truncate: Boolean = false): Unit =
    df.show(n, truncate)

  /** Consume fully without keeping anything (reference BlackHole) — forces
    * materialization of the whole plan; returns the row count it swallowed.
    */
  def blackHole(df: DataFrame): Long = df.count()

  /** Append-mode parquet event log (reference `metalpipe_recorder.py`):
    * every message that reaches the sink is durably recorded; re-runs append.
    */
  def recorder(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** Streaming recorder: exactly-once append log for a stream (the
    * reference's recorder replays messages; checkpointed parquet append is
    * the durable cluster equivalent). Returns the started query.
    */
  def recorderStream(df: DataFrame, path: String, checkpoint: String) =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .start()

  /** CSV file sink (reference `civis_nodes.py:429` `CivisToCSV`; the
    * reference's Civis upload path at `civis_nodes.py:28` is file-mediated
    * through exactly this artifact). Header row on by default; Spark quotes
    * any field carrying the delimiter, quote, or newline, so arbitrary text
    * columns survive. For a TYPED re-read, pass the frame's own schema to
    * [[graft.sources.Sources.csv]] (`schemaDdl = Some(df.schema.toDDL)`) —
    * CSV itself is untyped text, and re-inference can drift (e.g. a
    * decimal column re-read as double); fields written with embedded
    * newlines additionally need `multiLine=true` on the read.
    */
  def csvWrite(df: DataFrame, path: String, header: Boolean = true,
               mode: String = "overwrite",
               options: Map[String, String] = Map.empty): Unit =
    df.write.mode(mode).option("header", header.toString)
      .options(options).csv(path)

  /** Graph export (reference `cypher_neo4j.py:8` Neo4j writer): node tables
    * per entity label + edge tables, as parquet — the bulk-import layout
    * every graph store ingests. Entity/edge DataFrames come from
    * `TreeWalk.entities` / `TreeWalk.relations` / `MtlParser`.
    */
  def graphExport(nodes: Map[String, DataFrame], edges: Map[String, DataFrame],
                  dir: String): Unit = {
    nodes.foreach { case (label, df) =>
      df.write.mode("overwrite").parquet(s"$dir/nodes_$label")
    }
    edges.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/edges_$name")
    }
  }

  /** Cypher MERGE statements for an edge table (src_id, dst_id, rel) — the
    * textual form the reference's Neo4j node emits, generated distributed as
    * a column (no driver loop); feed to any bolt client.
    */
  def cypherStatements(edges: DataFrame, srcLabel: String, dstLabel: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // Values interpolate between single quotes, so backslashes and quotes
    // in the DATA must escape (Cypher string rules) — an id like "O'Brien"
    // would otherwise emit a syntactically broken (and injectable)
    // statement.
    def esc(c: Column): Column = {
      val bs = call_function("replace", c.cast("string"), lit("\\"), lit("\\\\"))
      call_function("replace", bs, lit("'"), lit("\\'"))
    }
    // Relation types and property KEYS interpolate outside quotes, where no
    // string escaping can contain them — and although graft's own callers
    // feed parser-generated identifiers, both are DataFrame columns, so any
    // data-derived value is an injection vector. Enforce the identifier
    // grammar per row and fail loudly on violations (a silently mangled
    // MERGE is worse than an aborted export).
    def ident(c: Column): Column =
      when(c.rlike("^[A-Za-z_][A-Za-z0-9_]*$"), c)
        .otherwise(raise_error(concat(
          lit("cypherStatements: non-identifier relation/property name: '"),
          c, lit("'"))))
    // A `props` column (array<struct<k,v>> from MtlParser relation
    // assertions) renders as SET clauses on the relationship — the
    // reference's RelationshipPropertyAssertion merge schema
    // (nft_nodes.py:834: MERGE ... SET r.{prop} = $value). Null-valued
    // properties are skipped (a null inside concat would otherwise null
    // out the whole SET block and silently drop every property).
    if (edges.columns.contains("props"))
      edges.select(concat(
        lit(s"MERGE (a:$srcLabel {id: '"), esc(col("src_id")),
        lit(s"'}) MERGE (b:$dstLabel {id: '"), esc(col("dst_id")),
        lit("'}) MERGE (a)-[r:"), ident(col("rel")), lit("]->(b)"),
        array_join(transform(
          filter(col("props"), p => p.getField("v").isNotNull),
          p => concat(lit(" SET r."), ident(p.getField("k")),
            lit(" = '"), esc(p.getField("v")), lit("'"))), ""),
        lit(";")).as("cypher"))
    else
      edges.select(concat(
        lit(s"MERGE (a:$srcLabel {id: '"), esc(col("src_id")),
        lit(s"'}) MERGE (b:$dstLabel {id: '"), esc(col("dst_id")),
        lit("'}) MERGE (a)-[:"), ident(col("rel")), lit("]->(b);")).as("cypher"))
  }

  /** Minimal bolt-session surface [[cypherExecute]] drives — the three
    * calls the reference makes on its neo4j session (`cypher_neo4j.py:24`:
    * run inside a transaction, commit, close). Production adapts the real
    * Neo4j java driver behind it; no driver ships in this environment, so
    * specs inject a counting fake through the same seam.
    */
  trait CypherSession extends AutoCloseable {
    def run(statement: String): Unit
    def commit(): Unit
  }

  /** Cypher statement executor (reference `cypher_neo4j.py:8`
    * `Neo4JExecutor`): drive a `cypher` statement column (from
    * [[cypherStatements]]) through a pluggable session factory with
    * `foreachPartition` — one session per PARTITION (the reference holds
    * one per node thread), statements grouped into transactions of
    * `batchSize` (the reference commits per message; batching is the
    * documented knob it exposes but never uses). The factory must be
    * serializable — it is constructed ON the executors, where the
    * connections must live; a driver-side session would funnel the whole
    * graph write through one machine. Returns the executed-statement
    * count (accumulator, exact on success; like all foreach-style sinks,
    * task RETRIES can replay statements — MERGE-style idempotent cypher
    * is the contract, same as the reference's).
    */
  def cypherExecute(statements: DataFrame,
                    sessionFactory: () => CypherSession,
                    batchSize: Int = 100): Long = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val acc = statements.sparkSession.sparkContext.longAccumulator("cypher_statements")
    statements.select(col("cypher").cast(org.apache.spark.sql.types.StringType))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val s = sessionFactory()
        try {
          var inBatch = 0
          while (it.hasNext) {
            s.run(it.next().getString(0))
            acc.add(1)
            inBatch += 1
            if (inBatch >= batchSize) { s.commit(); inBatch = 0 }
          }
          if (inBatch > 0) s.commit()
        } finally s.close()
      }
    acc.value
  }

  /** Partition-layout parquet write: one directory per value of the
    * partition columns. THE storage practice for big corpora — a reader
    * filtering on the partition key scans only matching directories
    * (partition pruning, asserted in PlanSpec), so `WHERE lang = 'en'`
    * over 100 TB touches only the English shard. Partition by LOW
    * cardinality columns only (each value is a directory).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.write.partitionBy(partitionCols: _*).mode(mode).parquet(path)

  /** Clustered parquet write: directory partitioning + in-file row
    * ordering + bounded file sizes — the full data-layout contract for
    * scan-time skipping at 100 TB. `sortCols` cluster rows WITHIN each
    * output file so parquet row-group min/max statistics become selective
    * (a filter on a sort column skips whole row groups);
    * `maxRecordsPerFile` caps file size without an extra shuffle.
    */
  def writeClustered(df: DataFrame, path: String, partitionCols: Seq[String],
                     sortCols: Seq[String], maxRecordsPerFile: Long = 0L,
                     mode: String = "overwrite",
                     bloomFilterCols: Seq[String] = Nil,
                     bloomNdv: Long = 0L): Unit = {
    val sorted = df.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
    var w = sorted.write.partitionBy(partitionCols: _*).mode(mode)
    if (maxRecordsPerFile > 0) w = w.option("maxRecordsPerFile", maxRecordsPerFile)
    // parquet BLOOM FILTERS on the named columns — the point-lookup lever
    // for columns that are NOT the sort key: directory partitioning and
    // row-group min/max stats only prune on clustered dimensions, but a
    // probe `WHERE id = x` on a scattered column (the dedup/index id
    // lookup shape) must otherwise read every row group. The reader
    // (parquet-mr under Spark's pushed filters) tests each row group's
    // bloom before decoding a page — measured 7-9× on a 2M-row point
    // probe (plans/LAYOUT.md r11). Size `bloomNdv` near the DISTINCT
    // count per row group (not the table): an oversized bloom is pure
    // footer bytes (bench: ndv=|table| on 62k-row files more than
    // doubled the file size; right-sized it is ~2%).
    bloomFilterCols.foreach { c =>
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
      if (bloomNdv > 0)
        w = w.option(s"parquet.bloom.filter.expected.ndv#$c", bloomNdv.toString)
    }
    w.parquet(path)
  }

  /** Hive-bucketed table write (r13) — the CO-LOCATED-JOIN layout: both
    * sides of a recurring equi-join written `bucketBy(n, key)` with the
    * SAME bucket count join WITHOUT a shuffle (Spark's bucketed scan
    * reports the hash partitioning, so the SortMergeJoin's Exchange
    * requirement is already satisfied — plan-pinned by PlanBudgetSpec /
    * LayoutSpec). At 100 TB this converts the fact⋈fact join that
    * dominates a recurring pipeline from two corpus shuffles per RUN
    * into one bucketed write per INGEST — the bucketing lever the
    * [[writeClustered]] scaladoc's row-group story does not cover
    * (min/max stats prune scans; bucketing removes exchanges).
    *
    * `sortCols` pre-sorts within buckets (Spark still per-partition
    * sorts the SMJ inputs when files-per-bucket > 1; the in-file order
    * still buys row-group selectivity on the key). Bucketed layouts are
    * TABLES (the bucket spec lives in the catalog, not the directory),
    * so the write is `saveAsTable` with an explicit `path` — readers use
    * `spark.table(name)`; a plain parquet read of the path sees the same
    * rows without the bucketing metadata (correctness never depends on
    * the layout).
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketCols: Seq[String], buckets: Int,
                    sortCols: Seq[String] = Nil,
                    mode: String = "overwrite"): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed: bucketCols must be non-empty")
    require(buckets > 0, s"writeBucketed: buckets must be positive, got $buckets")
    var w = df.write.mode(mode).format("parquet").option("path", path)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    w.saveAsTable(table)
  }

  /** Atomic-swap parquet write — the writer of every single-frame
    * stored-index directory, first generation included, and the safe way
    * to write a maintained frame BACK over the live directory it was read
    * from: the one-frame call of [[swapGeneration]], writing `df`
    * (partitioned by `partitionCols`) as the new generation's contents.
    * The in-place alternative — `mode("overwrite")` onto the dir —
    * deletes the input BEFORE the job that reads it finishes planning,
    * and a failure mid-write loses the index outright.
    *
    * One layout rule, the writer-side twin of [[resolveLive]]'s: a
    * missing `dir` inside a pointer dir `idx` names artifact `a` of `idx`
    * (`idx/codes` of a vector index). The write is then ONE new
    * generation of `idx` holding `df` as `a` plus a byte copy of every
    * other artifact of the live generation, so a maintained code or
    * matrix table ([[graft.similarity.Pq.indexCodesDelta]],
    * `Sq.indexCodesDelta`, [[graft.similarity.MaxSim.indexMatsDelta]])
    * and the frozen model it was encoded under flip together. The copy is
    * model-sized by the build contract and runs no Spark job. An `idx`
    * with no live generation is refused: there is no model to carry.
    */
  def swapWrite(df: DataFrame, dir: String,
                partitionCols: Seq[String] = Nil,
                watermark: Option[Long] = None): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val a = new Path(dir)
    val fs = a.getFileSystem(conf)
    // the live generation to carry, when `dir` is an artifact of a pointer dir
    val carry = ownerOf(fs, a).map(_._1.getOrElse(throw new IllegalStateException(
      s"swapWrite: ${a.getParent} holds no live generation to carry into $dir"))._2)
    swapGeneration(df.sparkSession, carry.fold(dir)(_ => a.getParent.toString), watermark) { gen =>
      val w = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(carry.fold(gen)(_ => s"$gen/${a.getName}"))
      for (from <- carry; st <- listing(fs, from)
           if st.isDirectory && st.getPath.getName != a.getName)
        require(FileUtil.copy(fs, st.getPath, fs, new Path(gen, st.getPath.getName), false, conf),
          s"swapWrite: copy ${st.getPath} into $gen failed")
    }
  }

  /** The one swap protocol. Every directory it writes is a
    * generation-POINTER directory: immutable `gen-N/` subdirectories plus
    * a tiny `_CURRENT` file naming the live one. A swap runs `write` on a
    * FRESH `gen-N/` path — no live file is touched, so a maintained frame
    * keeps reading its own generation throughout, and `write` may lay
    * several artifacts out under that path (a lexical index writes its
    * four, a vector index its model tables and codes or mats) — marks it
    * `_GEN_READY` once `write` returns, atomically re-points `_CURRENT`,
    * then retires old generations. No directory ever
    * moves, so nothing depends on an atomic directory rename: on S3-class
    * object stores every step is one small-object operation. Readers
    * resolve the live generation through [[resolveLive]] (inside
    * [[graft.streaming.Streams.readIndex]]).
    *
    * A non-empty directory that is not in pointer layout (flat parquet
    * written some other way) is refused, not converted: its files would
    * sit beside the first generation.
    *
    * Crash windows (each green in PointerSwapSpec), none with a recovery
    * step:
    *  - mid-write: an unready `gen-N` carcass, pointer unchanged;
    *  - post-ready, pre-pointer: a ready `gen-N` newer than the pointed
    *    one, which no reader resolves;
    *  - mid-pointer-update (pointer deleted, tmp not yet renamed):
    *    readers fall back to the newest ready generation — the one the
    *    flip was writing — and the next swap writes a pointer again.
    * The next swap DISCARDS the first two: its sweep deletes every
    * generation but the live one that is unready or newer than it, and
    * numbers the new generation past everything it found. Such a
    * generation belongs to a write whose caller never saw it commit (the
    * flip did not happen), so a replaying caller rebuilds it from the
    * live generation — every maintenance caller's apply is idempotent
    * ([[graft.dedup.Dedup.replaceIdFrame]]) — and discarding it keeps it
    * from pushing the live generation out of the retention window.
    *
    * Retention honors `spark.graft.swap.keepGenerations` (count, default
    * 2) AND `spark.graft.swap.keepMinAgeMs` (time floor, default 0): a
    * ready generation is retired only when beyond the count bound and
    * superseded longer ago than the floor — the reader SLA "any scan that
    * resolved `_CURRENT` within the last keepMinAgeMs finds every file it
    * listed", which the count bound alone cannot promise under
    * back-to-back maintain bursts (plans/LAYOUT.md).
    *
    * Delta log: a dir may also hold `deltas/batch_<id>/` appends (see
    * [[deltaPath]]). `watermark` is the highest batch id folded into this
    * generation, written as the content of its `_GEN_READY` before the
    * pointer flips (no watermark: an empty marker). Readers scan the live
    * generation plus the deltas above its watermark ([[resolveLive]]), and
    * retention deletes each delta at or below the lowest watermark among
    * the views it keeps — the view before `gen-0`, which read every delta,
    * counts as one while `gen-0` survives.
    */
  def swapGeneration(spark: SparkSession, dir: String,
                     watermark: Option[Long] = None)(write: String => Unit): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keepGens = spark.conf.get("spark.graft.swap.keepGenerations", "2").toInt
    require(keepGens >= 1, s"keepGenerations must be >= 1, got $keepGens")
    val entries = listing(fs, d)
    require(entries.isEmpty || isPointerLayout(entries),
      s"swapWrite: $dir holds data but is not a generation-pointer " +
        "directory (no gen-N/, _CURRENT or deltas/); write it anew through swapWrite")
    // every delete result is CHECKED: Hadoop FileSystem signals most
    // failures by returning false, not throwing
    def deleteOrDie(p: Path): Unit =
      require(!fs.exists(p) || fs.delete(p, true),
        s"swapWrite: delete $p failed")
    val gens = numbered(entries, GenPrefix)
    val live = liveGen(fs, readSmall(fs, new Path(d, PointerFile)), gens)._1.map(_._1)
    // discard what no reader resolves (the live generation is never
    // touched): unready carcasses, and ready generations newer than the
    // live one, whose flip never ran
    gens.filterNot { case (n, p) =>
      live.exists(l => n == l || n < l && genReady(fs, p))
    }.foreach { case (_, p) => deleteOrDie(p) }
    val nextN = gens.lastOption.fold(0L)(_._1 + 1)
    val gen = new Path(d, s"$GenPrefix$nextN")
    write(gen.toString)
    val marker = fs.create(new Path(gen, GenReadyMarker), true)
    try watermark.foreach(w => marker.write(w.toString.getBytes("UTF-8")))
    finally marker.close()
    writePointer(fs, d, nextN)
    // retention: the new generation + its keepGens-1 newest predecessors
    // always survive; `spark.graft.swap.keepMinAgeMs` (default 0 = count
    // only) is a TIME floor on top — a generation is retired only when
    // BOTH beyond keepGenerations AND it was SUPERSEDED more than the
    // floor ago. The count bound covers "a reader resolved the previous
    // pointer and is still scanning"; the floor turns that into an
    // explicit reader SLA ("any scan that resolved _CURRENT in the last
    // N ms finds every file it listed") that survives bursts of
    // back-to-back maintains (contract: plans/LAYOUT.md). The floor
    // clock starts at SUPERSESSION, not at the generation's own
    // readiness: reader exposure ends when the pointer moves OFF a
    // generation, which happens the instant its oldest READY successor's
    // marker lands (writePointer immediately follows the marker).
    // Measuring from the candidate's own _GEN_READY mtime (the r14 form)
    // broke the SLA exactly for long-lived generations: one current for
    // hours and then superseded by two back-to-back maintains was past
    // both bounds at the second maintain and vanished milliseconds after
    // it stopped being current (ADVICE r15). A candidate whose successor
    // marker cannot be read counts as just-superseded (age 0) and
    // survives any positive floor — conservative, never the reverse.
    val keepMinAgeMs =
      spark.conf.get("spark.graft.swap.keepMinAgeMs", "0").toLong
    val nowMs = System.currentTimeMillis()
    val readyGens = listGens(fs, d).filter { case (_, p) => genReady(fs, p) }
    def readyMtime(p: Path): Option[Long] =
      try Some(fs.getFileStatus(new Path(p, GenReadyMarker))
        .getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    def supersededAgeMs(n: Long): Long =
      readyGens.find(_._1 > n).flatMap(g => readyMtime(g._2))
        .map(nowMs - _).getOrElse(0L)
    // delta readers hold views, not only generations: the view before
    // gen-0 (every delta, no generation) retires as a generation -1
    val views = (if (readyGens.headOption.exists(_._1 == 0L)) Seq(-1L -> None)
                 else Nil) ++ readyGens.map { case (n, p) => n -> Some(p) }
    val retired = views.filter(_._1 != nextN)
      .dropRight(keepGens - 1)
      .filter { case (n, _) => supersededAgeMs(n) >= keepMinAgeMs }
    retired.foreach { case (_, p) => p.foreach(deleteOrDie) }
    val deltas = deltasIn(fs, d)
    if (deltas.nonEmpty) {
      val floor = views.filterNot(retired.contains)
        .map(_._2.flatMap(watermarkOf(fs, _)).getOrElse(-1L)).min
      deltas.filter(_._1 <= floor).foreach { case (_, p) => deleteOrDie(p) }
    }
  }

  /** The pointer file naming a live generation inside a pointer-layout
    * directory (its content is `gen-N` plus a nonce fresh per swap, see
    * [[liveToken]]), the per-generation completion marker
    * (holding the generation's watermark, if any), and the delta log.
    * The files are underscore-prefixed so parquet readers never see them.
    */
  val PointerFile = "_CURRENT"
  val GenReadyMarker = "_GEN_READY"
  val DeltaDir = "deltas"
  private val GenPrefix = "gen-"
  private val BatchPrefix = "batch_"

  /** Where an appender writes micro-batch `batchId`'s rows in the delta
    * log of pointer-layout dir `dir` (readers see them through
    * [[resolveLive]] until a [[swapWrite]] with a watermark folds them).
    */
  def deltaPath(dir: String, batchId: Long): String =
    s"$dir/$DeltaDir/$BatchPrefix$batchId"

  private def listing(fs: FileSystem, d: Path): Seq[FileStatus] =
    try fs.listStatus(d).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }

  private def isPointerLayout(entries: Seq[FileStatus]): Boolean =
    entries.exists { st =>
      val name = st.getPath.getName
      name == PointerFile || name == DeltaDir || numberAfter(GenPrefix, name).nonEmpty
    }

  private def numberAfter(prefix: String, name: String): Option[Long] =
    if (name.startsWith(prefix)) name.drop(prefix.length).toLongOption
    else None

  /** the `<prefix><n>` subdirectories of a listing, by n ascending. */
  private def numbered(entries: Seq[FileStatus], prefix: String): Seq[(Long, Path)] =
    entries.filter(_.isDirectory)
      .flatMap(st => numberAfter(prefix, st.getPath.getName).map(_ -> st.getPath))
      .sortBy(_._1)

  private def listGens(fs: FileSystem, d: Path): Seq[(Long, Path)] =
    numbered(listing(fs, d), GenPrefix)

  private def deltasIn(fs: FileSystem, d: Path): Seq[(Long, Path)] =
    numbered(listing(fs, new Path(d, DeltaDir)), BatchPrefix)

  private def genReady(fs: FileSystem, p: Path): Boolean =
    fs.exists(new Path(p, GenReadyMarker))

  /** the highest batch id folded into generation `p`: its `_GEN_READY`
    * content, None when empty. */
  private def watermarkOf(fs: FileSystem, p: Path): Option[Long] =
    readSmall(fs, new Path(p, GenReadyMarker)).flatMap(_.toLongOption)

  /** a small file's trimmed UTF-8 content, None when it is missing. */
  private def readSmall(fs: FileSystem, f: Path): Option[String] =
    try {
      val in = fs.open(f)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => None
    }

  /** The live generation among pointer dir `gens`, and the token it was
    * resolved through: the generation `pointer` (the `_CURRENT` content,
    * read BEFORE `gens` was listed) names, with that content as the
    * token; else — no pointer, a torn one (impossible under atomic PUT,
    * handled defensively), or one a writer's delete→rename update moved
    * while it was being opened — the newest READY generation, which is
    * never older than a valid pointer, and no token.
    */
  private def liveGen(fs: FileSystem, pointer: Option[String],
                      gens: Seq[(Long, Path)]): (Option[(Long, Path)], Option[String]) =
    pointer.flatMap(t => numberAfter(GenPrefix, t.takeWhile(_ != ' ')))
      .flatMap(n => gens.find(_._1 == n)) match {
      case Some(g) => (Some(g), pointer)
      case None => (gens.filter(g => genReady(fs, g._2)).lastOption, None)
    }

  /** The content of `dir`'s `_CURRENT`, None while there is none: `gen-N`
    * plus the nonce of the swap that wrote it, so it changes on every
    * swap — a directory deleted and rebuilt at `gen-0` included. One small
    * read, no listing: a cache keyed on it (the lexical index's handle in
    * [[graft.similarity.Search]]) checks freshness with it per call.
    */
  def liveToken(spark: SparkSession, dir: String): Option[String] = {
    val d = new Path(dir)
    readSmall(d.getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(d, PointerFile))
  }

  /** Atomically re-point `_CURRENT` at `gen`: write `_CURRENT.tmp`,
    * delete the old pointer, rename the tmp in. On an object store each
    * step is a single small-OBJECT operation (atomic PUT / DELETE / a
    * one-object copy) — never an O(data) directory move; the only
    * residue window is a missing pointer between the delete and the
    * rename, which readers resolve by falling back to the newest READY
    * generation (= the one this pointer names).
    */
  private def writePointer(fs: FileSystem, d: Path, gen: Long): Unit = {
    val pf = new Path(d, PointerFile)
    val tmp = new Path(d, PointerFile + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(s"$GenPrefix$gen ${java.util.UUID.randomUUID()}".getBytes("UTF-8"))
    finally out.close()
    require(!fs.exists(pf) || fs.delete(pf, false),
      s"writePointer: delete $pf failed")
    require(fs.rename(tmp, pf), s"writePointer: rename $tmp -> $pf failed")
  }

  /** What a reader scans in a pointer-layout dir: `paths` (empty when
    * nothing is live), `watermark`, the highest delta-log batch id they
    * cover (None when they cover none), and `token`, the [[liveToken]]
    * the live generation was resolved through (None when the reader fell
    * back past a missing pointer, or nothing is live).
    */
  final case class LiveView(paths: Seq[String], watermark: Option[Long],
                            token: Option[String])

  /** The paths a READER scans. The live generation is the `gen-N` that
    * `_CURRENT` names, falling back to the newest READY generation while
    * the pointer is mid-update, and none while no generation is ready
    * yet. A dir with a delta log adds every `deltas/batch_<id>` above that
    * generation's watermark (all of them when no generation is live). A
    * missing or empty dir has nothing live — with one layout rule: a
    * missing `d/a` inside pointer dir `d` names artifact `a` of `d`'s live
    * generation (`idx/postings` reads a lexical index's
    * `idx/gen-N/postings`; nothing is live when that generation has no
    * `a`), the rule [[swapWrite]] writes by. A non-empty dir in any other
    * layout is refused, as [[swapWrite]] refuses it. A dir without a
    * delta log costs one pointer read and one listing. Every stored-index
    * read goes through here, via [[graft.streaming.Streams.readIndex]].
    */
  def resolveLive(spark: SparkSession, dir: String): LiveView = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pointer = readSmall(fs, new Path(d, PointerFile))
    val entries = listing(fs, d)
    require(entries.isEmpty || isPointerLayout(entries),
      s"resolveLive: $dir holds data but is not a generation-pointer " +
        "directory (no gen-N/, _CURRENT or deltas/); rewrite it through swapWrite")
    val (live, token) = liveGen(fs, pointer, numbered(entries, GenPrefix))
    val gen = live.map(_._2)
    if (entries.isEmpty) ownerOf(fs, d).fold(LiveView(Nil, None, None)) { case (g, t) =>
      LiveView(g.map(x => new Path(x._2, d.getName)).filter(fs.exists)
        .map(_.toString).toSeq, None, t)
    }
    else if (!entries.exists(_.getPath.getName == DeltaDir))
      LiveView(gen.map(_.toString).toSeq, None, token)
    else {
      val folded = gen.flatMap(watermarkOf(fs, _))
      val deltas = deltasIn(fs, d).filter(b => folded.forall(b._1 > _))
      LiveView(gen.map(_.toString).toSeq ++ deltas.map(_._2.toString),
        (folded ++ deltas.map(_._1)).maxOption, token)
    }
  }

  /** The live generation of the pointer dir that a missing path `a` names
    * an artifact of (`a`'s parent, when that is a pointer dir), and the
    * token it was resolved through; None when `a` is no such artifact.
    * The one layout rule of [[resolveLive]] (reading `idx/postings`) and
    * [[swapWrite]] (writing `idx/codes`).
    */
  private def ownerOf(fs: FileSystem, a: Path): Option[(Option[(Long, Path)], Option[String])] =
    Option(a.getParent).filter(_ => !fs.exists(a)).flatMap { d =>
      val pointer = readSmall(fs, new Path(d, PointerFile))
      val entries = listing(fs, d)
      Option.when(isPointerLayout(entries))(liveGen(fs, pointer, numbered(entries, GenPrefix)))
    }

  /** Small-file compaction: rewrite a parquet directory into
    * `ceil(bytes / targetBytes)` files at `outDir`. Streaming ingest and
    * per-batch appends accrete thousands of KB-sized files; at scale the
    * file COUNT becomes the bottleneck (driver listing, task scheduling,
    * open-per-file overhead), so periodic compaction is standard hygiene.
    *
    * `coalesce`, not `repartition`: compaction must not pay a shuffle —
    * coalesce merges read-splits locally. Writes to a NEW directory and
    * returns (filesBefore, filesAfter); the caller swaps directories once
    * satisfied (in-place rewrites that can fail halfway are how data is
    * lost).
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetBytes: Long = 128L * 1024 * 1024): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = new org.apache.hadoop.fs.Path(inDir)
    val fs = in.getFileSystem(conf)
    def parquetFiles(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) parquetFiles(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st) else Nil
      }
    // Hive-partitioned input (col=value directory levels) must rewrite with
    // the SAME partitionBy — Spark folds partition directories into ordinary
    // data columns on read, so a flat rewrite would silently destroy the
    // directory layout and every downstream reader's partition pruning.
    // The column chain is read off the directory names, one level at a time,
    // and VALIDATED: every sibling directory at a level must carry the same
    // `col=` prefix (a directory mixing hive and plain subdirs, or a data
    // dir whose name merely contains '=', must fail loudly rather than
    // rewrite with a guessed-wrong layout), and the detected chain is
    // cross-checked below against the columns Spark actually infers.
    def partitionColsOf(p: org.apache.hadoop.fs.Path): Seq[String] = {
      val dirs = fs.listStatus(p).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isDirectory && !n.startsWith("_") && !n.startsWith(".")
      }
      val prefixes = dirs.map(_.getPath.getName.split("=", 2)).collect {
        case Array(c, _) => c
      }
      if (prefixes.isEmpty) Nil
      else {
        require(prefixes.size == dirs.size && prefixes.distinct.size == 1,
          s"compact: inconsistent partition layout under $p — sibling " +
            s"directories ${dirs.map(_.getPath.getName).mkString(", ")} do " +
            "not all share one 'col=' prefix; refusing to guess a partitionBy")
        prefixes.head +: partitionColsOf(dirs.head.getPath)
      }
    }
    val partCols = partitionColsOf(in)
    val before = parquetFiles(in)
    val totalBytes = before.map(_.getLen).sum
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val src = spark.read.parquet(inDir)
    require(partCols.forall(src.columns.contains),
      s"compact: directory-derived partition columns ${partCols.mkString(",")} " +
        s"not all present in Spark's inferred schema ${src.columns.mkString(",")}" +
        " — partition inference disagrees; refusing to rewrite")
    val w = src.coalesce(n).write.mode("overwrite")
    // coalesce+partitionBy yields ≤ n files PER partition value (each task
    // splits its rows by directory) — still bounded, still shuffle-free.
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(outDir)
    (before.size.toLong,
      parquetFiles(new org.apache.hadoop.fs.Path(outDir)).size.toLong)
  }

  /** Generic JDBC writer (reference civis/mysql writer nodes:
    * `civis_nodes.py` ensure-table/SQL-execute, `node.py` MySQL inserts).
    * `mode="overwrite"` drops and recreates the table (the reference's
    * ensure-table-exists + replace flow). Round-trip correctness against an
    * embedded Derby is oracled by q_jdbc_roundtrip.
    */
  def jdbcWrite(df: DataFrame, url: String, table: String,
                options: Map[String, String] = Map.empty,
                mode: String = "append"): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(options).mode(mode).save()

  /** Z-order cell ids for `cols`: each column linearly binned to
    * `[0, 2^bits)` with PURE INTEGER arithmetic —
    * `((v - min) * 2^bits) div (max - min + 1)` over BIGINT — then
    * round-robin bit-interleaved into one Morton key (see
    * [[org.apache.spark.sql.graftglue.InterleaveBits]]).
    *
    * Scale shape: ONE min/max aggregate job (2·d driver-side values — a
    * model-sized collect, like k-means centroids), then a zero-shuffle
    * codegen projection over the corpus. Linear binning (not
    * quantile/rank binning) keeps the mapping a pure per-row expression:
    * no second pass, no sample-based boundaries, and an SQL oracle
    * reproduces every key bit-exactly — the variant Hudi calls
    * "linear mapping" for its z-curve clustering. Skewed columns bin
    * unevenly under it; pre-transform (log, bucket id) if that matters.
    *
    * Returns `df` plus `zval`. Columns must be integral-castable;
    * `d * bits` must stay ≤ 63.
    */
  def zorderValue(df: DataFrame, cols: Seq[String], bits: Int = 8): DataFrame = {
    require(cols.nonEmpty && cols.size * bits <= 63,
      s"zorderValue: ${cols.size} cols x $bits bits must be in (0, 63]")
    val nbins = 1L << bits
    val bounds = df.select(
      cols.flatMap(c => Seq(min(col(c).cast("long")), max(col(c).cast("long")))): _*)
      .head()
    // empty input / all-null column: no bounds, so no meaningful bins —
    // key everything 0 (an empty write stays empty; the plain-parquet
    // path would also have produced no clustering)
    if (cols.indices.exists(i => bounds.isNullAt(2 * i)))
      return df.withColumn("zval", lit(0L))
    val bins = cols.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (bounds.getLong(2 * i), bounds.getLong(2 * i + 1))
      // the multiply must stay in BIGINT: (hi-lo)*nbins ≤ Long.Max, loudly
      // checked — a full-range column (e.g. a raw xxhash64) would silently
      // wrap into garbage bins; pre-bucket it (`v div 2^k`) before z-ordering
      require(hi - lo >= 0 && hi - lo <= Long.MaxValue / nbins - 1,
        s"zorderValue: column `$c` spans [$lo, $hi] — too wide for $bits-bit " +
          s"binning without BIGINT overflow; pre-scale it (e.g. `$c` div " +
          s"${1L << 32}) before z-ordering")
      // ((v - lo) * nbins) div (hi - lo + 1) ∈ [0, nbins) — BIGINT `div`,
      // never `/` (double rounding near exact multiples would flip bins)
      expr(s"((cast(`$c` as bigint) - (${lo}L)) * ${nbins}L) " +
        s"div ${hi - lo + 1L}L")
    }
    df.withColumn("zval", org.apache.spark.sql.graftglue.ColumnBridge.column(
      org.apache.spark.sql.graftglue.InterleaveBits(
        org.apache.spark.sql.graftglue.ColumnBridge.expression(array(bins: _*)),
        bits)))
  }

  /** Z-order clustered parquet write: Morton keys ([[zorderValue]]), range
    * partition into `numFiles` contiguous key ranges, sort within each, drop
    * the key, write. Each file then covers a small hyper-rectangle of the
    * `zCols` space, so per-file/per-row-group min/max stats prune scans for
    * predicates on ANY clustered column — where a single-column sort only
    * serves its leading column and a point/box predicate on the second
    * column touches EVERY file. THE layout for multi-predicate scans over
    * 100 TB (measured file-skip table: `plans/LAYOUT.md`).
    *
    * Cost: the min/max job plus ONE range-partition shuffle — identical
    * movement to a plain global sort; the clustering win is free beyond it.
    */
  def zorderWrite(df: DataFrame, path: String, zCols: Seq[String],
                  bits: Int = 8, numFiles: Int = 64,
                  mode: String = "overwrite"): Unit =
    zorderValue(df, zCols, bits)
      .repartitionByRange(numFiles, col("zval"))
      .sortWithinPartitions("zval")
      .drop("zval")
      .write.mode(mode).parquet(path)

  /** Deterministic global corpus shuffle for training-order reproducibility:
    * every row lands in shard `md5(seed|id) mod numShards`, written as one
    * `shard=` directory, ordered inside by the same seeded hash. The
    * assignment is a pure function of (seed, id) — NOT of cluster
    * parallelism, input split order, or a Partitioner instance — so two
    * runs at different parallelism emit byte-identical shard contents, and
    * changing `seed` is a fresh epoch-order permutation. This is the
    * "global shuffle before training" step LLM data pipelines run after
    * curation (sequential readers then see an i.i.d.-like stream; no
    * shuffle buffer can fix a corpus written in crawl order).
    *
    * Scale shape: one hash-partition shuffle on the shard id + a per-task
    * sort — no global ordering structure, no driver state. The oracled
    * query form is [[graft.operators.Ops]]-style `corpusShuffle` in
    * `SparkEntry` (q_corpus_shuffle) pinning shard AND in-shard position.
    */
  def shuffledWrite(df: DataFrame, path: String, idCol: String,
                    seed: Long, numShards: Int,
                    mode: String = "overwrite"): Unit = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    df.withColumn("__key", Ops.shuffleKey(idCol, seed))
      .withColumn("shard", Ops.shuffleShard(col("__key"), numShards))
      .repartition(numShards, col("shard"))
      .sortWithinPartitions("shard", "__key")
      .drop("__key")
      .write.partitionBy("shard").mode(mode).parquet(path)
  }
}
