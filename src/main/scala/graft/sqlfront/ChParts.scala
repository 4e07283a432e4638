package graft.sqlfront

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-part bookkeeping for the MergeTree surface (reference
  * src/Storages/System/StorageSystemParts.cpp, MergeTreeData part
  * naming in src/Storages/MergeTree/MergeTreePartInfo.h).
  *
  * Every INSERT into a MergeTree-family session table allocates one
  * part per distinct partition value in the block, named
  * `{partition_id}_{min_block}_{max_block}_{level}` exactly like the
  * reference. OPTIMIZE merges the active parts of a partition into one
  * (level+1) and outdates the inputs; TRUNCATE outdates everything;
  * DROP forgets the table. The registry backs `system.parts` /
  * `system.parts_columns` and the row-level `_part` / `_partition_id`
  * / `_block_number` / `_part_offset` virtual columns.
  *
  * Scale note: this is a METADATA surface. Per-part row counts here
  * come from counting the (test-sized) insert block; a production
  * deployment reads them from the table format's manifest (parquet
  * footers / commit log), never from a data scan.
  */
object ChParts {
  case class Part(
      name: String,
      partition: String,
      partitionId: String,
      state: String, // Active | Outdated
      rows: Long,
      level: Int,
      minBlock: Long,
      maxBlock: Long,
      marks: Long,
      bytesOnDisk: Long,
      partType: String,
      isFrozen: Int,
      // minmax index over a DateTime column in the partition key
      // (reference MergeTreeDataPart minmax_idx); epoch when absent
      minTime: java.sql.Timestamp = new java.sql.Timestamp(0),
      maxTime: java.sql.Timestamp = new java.sql.Timestamp(0),
      // data version: mutations rename parts with a _<v> suffix
      // (reference MergeTreePartInfo::getPartNameV1 with mutation)
      mutation: Long = 0,
      // delete-TTL minmax over the part's rows (epoch when no TTL)
      delMin: java.sql.Timestamp = new java.sql.Timestamp(0),
      delMax: java.sql.Timestamp = new java.sql.Timestamp(0),
      // loaded primary-key index size (marks x avg key bytes)
      pkBytes: Long = 0)

  private def mkName(pid: String, minB: Long, maxB: Long, lvl: Int,
                     mut: Long): String =
    s"${pid}_${minB}_${maxB}_$lvl" + (if (mut > 0) s"_$mut" else "")

  private val parts = TableMeta.perTable[Vector[Part]]()
  private val nextBlock = TableMeta.perTable[Long]()
  /** PARTITION BY expression (CH dialect) per tracked table; "" = none. */
  private val partBy = TableMeta.perTable[String]()
  private val granularity = TableMeta.perTable[Long]()
  /** Delete-TTL expression (CH dialect) per tracked table. */
  private val ttlBy = TableMeta.perTable[String]()
  /** ORDER BY key columns per tracked table (primary-key size calc). */
  private val orderKeysBy = TableMeta.perTable[Seq[String]]()
  /** Tables whose primary key was UNLOADed (system.parts shows 0). */
  private val pkUnloaded = TableMeta.perTable[Unit]()

  def setOrderKeys(table: String, keys: Seq[String]): Unit = {
    orderKeysBy.put(table, keys); ()
  }
  /** SYSTEM UNLOAD/LOAD PRIMARY KEY [table] (reference
    * InterpreterSystemQuery::unloadPrimaryKeys). */
  def unloadPrimaryKey(table: Option[String]): Unit = table match {
    case Some(t) => pkUnloaded.put(t, ()); ()
    case None => parts.keys.foreach(pkUnloaded.put(_, ()))
  }
  def loadPrimaryKey(table: Option[String]): Unit = table match {
    case Some(t) => pkUnloaded.remove(t); ()
    case None => pkUnloaded.clear()
  }
  private val mergesStopped = TableMeta.perTable[Unit]()

  def setTtl(table: String, expr: String): Unit = { ttlBy.put(table, expr); () }

  /** After a TTL merge dropped rows, re-pin the single surviving active
    * part's row count (0 rows resets its minmax/TTL info to epoch). */
  def recountActive(table: String, total: Long): Unit = {
    val ps = parts.getOrElse(table, return)
    val actives = ps.filter(_.state == "Active")
    if (actives.length != 1) return
    val gran = granularity.getOrElse(table, 8192L)
    val epoch = new java.sql.Timestamp(0)
    parts.put(table, ps.map(p =>
      if (p.state == "Active") {
        val q = p.copy(rows = total, marks = marksOf(total, gran),
          bytesOnDisk = 80L + 10L * total)
        if (total == 0)
          q.copy(minTime = epoch, maxTime = epoch,
            delMin = epoch, delMax = epoch)
        else q
      } else p))
  }

  /** TRUNCATE outdates all parts (the reference clears them async —
    * tests observe the Outdated residue, 01660). */
  def truncate(table: String): Unit =
    parts.get(table).foreach(ps =>
      parts.put(table, ps.map(_.copy(state = "Outdated"))))

  /** FREEZE [PARTITION p]: mark active parts frozen; the filter matches
    * the partition's text or id (reference PartitionCommands). */
  def freeze(table: String, partition: Option[String] = None): Unit =
    parts.get(table).foreach(ps =>
      parts.put(table, ps.map(p =>
        if (p.state == "Active" && partition.forall(f =>
            f == p.partition || f == p.partitionId))
          p.copy(isFrozen = 1) else p)))

  def stopMerges(table: String): Unit = { mergesStopped.put(table, ()); () }
  def startMerges(table: String): Unit = { mergesStopped.remove(table); () }

  /** A mutation (ALTER UPDATE/DELETE) allocates a block number and
    * stamps every active part with the new data version: all_1_1_0 ->
    * all_1_1_0_3 (reference MutationCommands / part renaming). Returns
    * the old->new name map for `_part` shadow rewriting. */
  def mutate(table: String): Map[String, String] = {
    val ps = parts.getOrElse(table, return Map.empty)
    if (!ps.exists(_.state == "Active")) return Map.empty
    val v = nextBlock.getOrElse(table, 1L)
    nextBlock.put(table, v + 1)
    var renames = Map.empty[String, String]
    // the OLD part is retained Outdated (system.parts lists it until
    // cleanup — 01414 sees both all_1_1_0 and all_1_1_0_2); the mutated
    // part is a NEW entry and does not inherit the frozen flag
    val updated = ps.flatMap { p =>
      if (p.state == "Active") {
        val nn = mkName(p.partitionId, p.minBlock, p.maxBlock, p.level, v)
        renames += (p.name -> nn)
        Vector(p.copy(state = "Outdated"),
          p.copy(name = nn, mutation = v, isFrozen = 0))
      } else Vector(p)
    }
    parts.put(table, updated)
    renames
  }

  def isTracked(table: String): Boolean = partBy.contains(table)

  /** The registered (wrap-adjusted) PARTITION BY expression; "" = none. */
  def partExprOf(table: String): Option[String] = partBy.get(table)

  /** Active part names, in name order (CHECK TABLE listing). */
  def activeParts(table: String): Seq[String] =
    parts.getOrElse(table, Vector.empty)
      .filter(_.state == "Active").map(_.name).sorted

  def partsOf(table: String): Vector[Part] =
    parts.getOrElse(table, Vector.empty)

  /** The reference types `a % b` by the DIVISOR's width: a UInt8
    * divisor yields an Int8 result, wrapping 195 to -61
    * (NumberTraits::ResultOfModulo; 01870 pins this for partition
    * keys). Applied to partition expressions only — innermost
    * identifier operands first, then parenthesised/call operands. */
  private def wrapModulo(s0: String, unsignedCols: Set[String]): String = {
    // signed wrap to the divisor's width, ANSI-safe (pmod, no CAST).
    // ResultOfModulo is signed only when an OPERAND is signed: an
    // unsigned dividend (UInt8 x % 200) keeps its plain remainder.
    def wrap(x: String, n: Long, signedDividend: Boolean): String = {
      val m: Long =
        if (n <= 255L) 256L else if (n <= 65535L) 65536L
        else if (n <= 4294967295L) 4294967296L else 0L
      if (m == 0L || !signedDividend) s"($x % $n)"
      else {
        val u = s"pmod($x % $n, ${m}L)"
        s"(CASE WHEN $u >= ${m / 2}L THEN $u - ${m}L ELSE $u END)"
      }
    }
    val pass1 = "([A-Za-z_]\\w*)\\s*%\\s*(\\d+)".r
    val pass2 = ("((?:[A-Za-z_]\\w*\\s*\\((?:[^()]|\\([^()]*\\))*\\)|" +
      "\\((?:[^()]|\\([^()]*\\))*\\)))\\s*%\\s*(\\d+)").r
    val s1 = pass1.replaceAllIn(s0, m =>
      java.util.regex.Matcher.quoteReplacement(
        wrap(m.group(1), m.group(2).toLong,
          !unsignedCols.contains(m.group(1)))))
    pass2.replaceAllIn(s1, m =>
      java.util.regex.Matcher.quoteReplacement(
        wrap(m.group(1), m.group(2).toLong, signedDividend = true)))
  }

  /** Register a MergeTree-family table at CREATE: its PARTITION BY
    * expression (already in CH dialect; "" when unpartitioned) and
    * index granularity. `unsignedCols` names the columns whose DECLARED
    * CH type is unsigned (UInt*) — their modulo stays non-negative. */
  def register(table: String, partitionBy: String, gran: Long,
               unsignedCols: Set[String] = Set.empty): Unit = {
    partBy.put(table, wrapModulo(partitionBy.trim, unsignedCols))
    granularity.put(table, if (gran > 0) gran else 8192L)
    parts.putIfAbsent(table, Vector.empty)
    nextBlock.putIfAbsent(table, 1L)
    ()
  }

  /** The reference's partition id for a partition VALUE (simple cases:
    * MergeTreePartition::getID): unpartitioned -> "all", integer ->
    * decimal text, Date -> YYYYMMDD. Composite/string keys get a
    * sanitized text id — self-consistent with partitionID(). */
  def partitionIdOf(v: Any): String = v match {
    // a NULL partition-key value hashes to this fixed id (reference
    // MergeTreePartition::getID — sipHash128 of the serialized Nullable
    // NULL, one 0x01 flag byte regardless of the inner type; 03522)
    case null => "2b16b490a87466b6a6d34fd9027f3c3d"
    case d: java.sql.Date => d.toString.replace("-", "")
    case d: java.time.LocalDate => d.toString.replace("-", "")
    case t: java.sql.Timestamp =>
      new java.text.SimpleDateFormat("yyyyMMddHHmmss").format(t)
    case t: java.time.Instant =>
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
        .withZone(java.time.ZoneOffset.UTC).format(t)
    case b: Boolean => if (b) "1" else "0"
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).map(i => partitionIdOf(r.get(i))).mkString("-")
    case other =>
      val s = String.valueOf(other)
      if (s.matches("-?\\d+")) s
      // an IPv4 partition key's id is its NUMERIC value (02530)
      else if (s.matches("\\d{1,3}(\\.\\d{1,3}){3}"))
        s.split("\\.").map(_.toLong).reduce((a, b) => a * 256 + b).toString
      else s.getBytes("UTF-8").take(8).map("%02x".format(_)).mkString
  }

  /** Human `partition` column text (reference renders the partition
    * value tuple element). */
  def partitionTextOf(v: Any): String = v match {
    case null => "tuple()"
    case s: String => s
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp =>
      new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss").format(t)
    case t: java.time.Instant =>
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
        .withZone(java.time.ZoneOffset.UTC).format(t)
    case r: org.apache.spark.sql.Row =>
      // the reference renders partition tuples with NO space: (-1,0)
      (0 until r.length).map { i =>
        r.get(i) match {
          case s: String => s"'$s'"
          case d: java.sql.Date => s"'$d'"
          case x => String.valueOf(x)
        }
      }.mkString("(", ",", ")")
    case other => String.valueOf(other)
  }

  private def marksOf(rows: Long, gran: Long): Long =
    if (rows == 0) 0 else (rows + gran - 1) / gran

  /** Record an insert block: one part per distinct partition value,
    * consecutive block numbers. Returns the block with the `_part`,
    * `_block_number` and `_part_offset` virtual columns appended (the
    * caller unions it into the view), or the block unchanged if the
    * table isn't tracked. */
  def tagBlock(spark: SparkSession, table: String, block: DataFrame,
               rewriteExpr: String => String,
               ordSource: DataFrame = null): DataFrame = {
    // partition first-occurrence order comes from the PRE-SORT insert
    // block (CH splits by partition before sorting rows by key)
    val ordBlock = if (ordSource == null) block else ordSource
    // a PHYSICAL column may shadow a virtual name (03033: `_part UInt32`
    // declared in the table) — the declared column wins, skip tagging
    if (block.columns.exists(c => c == "_part" || c == "_partition_id" ||
        c == "_partition_value" || c == "_block_number" ||
        c == "_part_offset" || c == "_sample_factor"))
      return block
    val pb = partBy.getOrElse(table, return block)
    val gran = granularity.getOrElse(table, 8192L)
    val partCol =
      if (pb.isEmpty) lit(null)
      else {
        val pbR = rewriteExpr(pb).trim
        // a bare tuple `(a, b)` partition key parses as struct(a, b)
        try expr(pbR)
        catch {
          case scala.util.control.NonFatal(_) if pbR.startsWith("(") =>
            expr("struct" + pbR)
        }
      }
    // a DateTime column inside the partition key feeds the part's
    // min_time/max_time minmax index (reference MergeTreeDataPart)
    val tsCol: Option[String] =
      if (pb.isEmpty) None
      else "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(pb).toSeq.distinct
        .find(c => block.schema.fields.exists(f => f.name == c &&
          f.dataType == org.apache.spark.sql.types.TimestampType))
    val epoch = new java.sql.Timestamp(0)
    // delete-TTL minmax over each part's rows (epoch when no TTL)
    val ttlExprOpt = ttlBy.get(table).filter(_.nonEmpty).flatMap { t =>
      try Some(expr(s"CAST((${rewriteExpr(t)}) AS TIMESTAMP)"))
      catch { case scala.util.control.NonFatal(_) => None }
    }
    // ORDER BY key byte volume -> primary-key index size estimate
    // (marks x avg key bytes; exact for string keys)
    val keyBytesExpr: Option[org.apache.spark.sql.Column] =
      orderKeysBy.get(table).filter(_.nonEmpty).flatMap { ks =>
        val present = ks.filter(k => block.columns.contains(k))
        if (present.isEmpty) None
        else try Some(sum(expr(present.map(k =>
          s"octet_length(CAST(`$k` AS STRING))").mkString(" + "))))
        catch { case scala.util.control.NonFatal(_) => None }
      }
    case class G(pv: Any, key: String, n: Long,
                 mn: java.sql.Timestamp, mx: java.sql.Timestamp,
                 dn: java.sql.Timestamp, dx: java.sql.Timestamp, kb: Long,
                 ord: Long = 0L)
    def aggList = Seq(count(lit(1)).as("__n")) ++
      tsCol.toSeq.flatMap(c =>
        Seq(min(col(c)).as("__mn"), max(col(c)).as("__mx"))) ++
      ttlExprOpt.toSeq.flatMap(e =>
        Seq(min(e).as("__dn"), max(e).as("__dx"))) ++
      keyBytesExpr.toSeq.map(_.as("__kb"))
    def readG(r: org.apache.spark.sql.Row, pv: Any, key: String): G = {
      def ts(f: String) =
        if (r.schema.fieldNames.contains(f) && !r.isNullAt(r.fieldIndex(f)))
          r.getTimestamp(r.fieldIndex(f)) else epoch
      def lg(f: String) =
        if (r.schema.fieldNames.contains(f) && !r.isNullAt(r.fieldIndex(f)))
          r.getLong(r.fieldIndex(f)) else 0L
      G(pv, key, lg("__n"), ts("__mn"), ts("__mx"), ts("__dn"), ts("__dx"),
        lg("__kb"), lg("__ord"))
    }
    val groups2: Seq[G] =
      if (pb.isEmpty) {
        val r = block.agg(aggList.head, aggList.tail: _*).collect().head
        val g = readG(r, null, "")
        if (g.n == 0) return tagEmpty(block)
        Seq(g)
      } else {
        // __pvs (string cast) keys the per-row when-chain below: struct
        // partition values cannot become Column literals
        val g = block
          .groupBy(partCol.as("__pv"), partCol.cast("string").as("__pvs"))
          .agg(aggList.head, aggList.tail: _*)
          .collect().map(r => readG(r, r.get(0), r.getString(1))).toSeq
        if (g.isEmpty) return tagEmpty(block)
        // block numbers follow FIRST-OCCURRENCE order of each partition
        // within the inserted block (reference MergeTreeDataWriter::
        // splitBlockIntoParts keeps row order, 03522). zipWithIndex is
        // the true row ordinal (monotonically_increasing_id is
        // recomputed post-exchange and lies here); the reduce keeps the
        // collected map at one entry per partition, driver-safe.
        val firstIdx = ordBlock.select(partCol.cast("string")).rdd
          .zipWithIndex
          .map { case (r, i) => (Option(r.getString(0)), i) }
          .reduceByKey(math.min)
          .collectAsMap()
        g.sortBy(x => firstIdx.getOrElse(Option(x.key), Long.MaxValue))
      }
    val newParts = groups2.map { g =>
      val blk = nextBlock.getOrElse(table, 1L)
      nextBlock.put(table, blk + 1)
      val pid = if (pb.isEmpty) "all" else partitionIdOf(g.pv)
      val marks = marksOf(g.n, gran)
      Part(s"${pid}_${blk}_${blk}_0",
        if (pb.isEmpty) "tuple()" else partitionTextOf(g.pv), pid,
        "Active", g.n, 0, blk, blk, marks,
        // bytes are a deterministic estimate (no real on-disk layout)
        80L + 10L * g.n, if (g.n <= 8192) "Compact" else "Wide", 0,
        g.mn, g.mx, 0, g.dn, g.dx,
        if (g.n == 0) 0 else g.kb * marks / g.n)
    }
    parts.put(table, parts.getOrElse(table, Vector.empty) ++ newParts)
    // row-level virtual columns for this block
    var tagged = block
      .withColumn("__pv_tag", partCol.cast("string"))
    val first = newParts.head
    var nameCol = lit(first.name)
    var blkCol = lit(first.minBlock)
    var pvalCol = lit(first.partition)
    if (pb.nonEmpty && newParts.length >= 1) {
      val keyByPid = groups2.map(g => (partitionIdOf(g.pv), g.key)).toMap
      def chain[T](f: Part => T) =
        newParts.drop(1).foldLeft(when(
          col("__pv_tag") <=> lit(keyByPid(newParts.head.partitionId)),
          lit(f(newParts.head)))) { (acc, p) =>
          acc.when(col("__pv_tag") <=> lit(keyByPid(p.partitionId)), lit(f(p)))
        }.otherwise(lit(f(first)))
      nameCol = chain(_.name)
      blkCol = chain(_.minBlock)
      pvalCol = chain(_.partition)
    }
    tagged = tagged
      .withColumn("_part", nameCol)
      .withColumn("_block_number", blkCol)
      .withColumn("_partition_value", pvalCol)
      .drop("__pv_tag")
    import org.apache.spark.sql.expressions.Window
    tagged.withColumn("__ins_ord", monotonically_increasing_id())
      .withColumn("_part_offset",
        row_number().over(Window.partitionBy(col("_part"))
          .orderBy(col("__ins_ord"))).cast("long") - 1)
      .drop("__ins_ord")
  }

  private def tagEmpty(block: DataFrame): DataFrame =
    block.withColumn("_part", lit(""))
      .withColumn("_block_number", lit(0L))
      .withColumn("_partition_value", lit(""))
      .withColumn("_part_offset", lit(0L))

  /** OPTIMIZE [PARTITION p] [FINAL]: merge each partition's active
    * parts into one (level = max+1, span = min..max), outdating the
    * inputs. FINAL also rewrites a lone level-0 part (all_1_1_0 ->
    * all_1_1_1 — reference merge selection under `final`). Returns
    * (oldName -> mergedName) so the caller can rewrite the view's
    * `_part` column. No-op while merges are stopped. */
  def optimize(table: String, partitionId: Option[String],
               fin: Boolean = false): Map[String, String] = {
    if (mergesStopped.contains(table)) return Map.empty
    val ps = parts.getOrElse(table, return Map.empty)
    val gran = granularity.getOrElse(table, 8192L)
    val byPid = ps.filter(p => p.state == "Active" &&
        partitionId.forall(_ == p.partitionId))
      .groupBy(_.partitionId)
    var renames = Map.empty[String, String]
    var out = ps
    for ((pid, group) <- byPid
         if group.length > 1 || (fin && group.exists(_.level == 0))) {
      val minB = group.map(_.minBlock).min
      val maxB = group.map(_.maxBlock).max
      val lvl = group.map(_.level).max + 1
      val rows = group.map(_.rows).sum
      val mut = group.map(_.mutation).max
      val merged = Part(mkName(pid, minB, maxB, lvl, mut),
        group.head.partition, pid, "Active", rows, lvl, minB, maxB,
        marksOf(rows, gran), 80L + 10L * rows,
        if (rows <= 8192) "Compact" else "Wide", 0,
        group.map(_.minTime).minBy(_.getTime),
        group.map(_.maxTime).maxBy(_.getTime), mut,
        group.map(_.delMin).minBy(_.getTime),
        group.map(_.delMax).maxBy(_.getTime),
        group.map(_.pkBytes).sum)
      out = out.map(p =>
        if (p.state == "Active" && p.partitionId == pid &&
            partitionId.forall(_ == p.partitionId) &&
            group.exists(_.name == p.name)) p.copy(state = "Outdated")
        else p) :+ merged
      renames ++= group.map(p => p.name -> merged.name)
    }
    parts.put(table, out)
    renames
  }

  /** DETACH stash: parts removed from the table but re-attachable. */
  private val detachedParts = TableMeta.perTable[Vector[Part]]()

  /** Remove matching active parts (DROP = forget, DETACH = stash). */
  def removeParts(table: String, pred: Part => Boolean,
                  stash: Boolean): Vector[Part] = {
    val ps = parts.getOrElse(table, return Vector.empty)
    val (out, keep) = ps.partition(p => p.state == "Active" && pred(p))
    parts.put(table, keep)
    if (stash)
      detachedParts.put(table,
        detachedParts.getOrElse(table, Vector.empty) ++ out)
    out
  }

  def takeDetached(table: String, pred: Part => Boolean): Vector[Part] = {
    val ps = detachedParts.getOrElse(table, Vector.empty)
    val (out, keep) = ps.partition(pred)
    detachedParts.put(table, keep)
    out
  }

  /** ATTACH re-adds rows as a FRESH part: new block number, level 0
    * (reference MergeTreeData::attachPartition — 03013 pins the reset). */
  def attachAsNew(table: String, partition: String, pid: String,
                  rows: Long): Part = {
    val blk = nextBlock.getOrElse(table, 1L)
    nextBlock.put(table, blk + 1)
    val gran = granularity.getOrElse(table, 8192L)
    val p = Part(s"${pid}_${blk}_${blk}_0", partition, pid,
      "Active", rows, 0, blk, blk, marksOf(rows, gran), 80L + 10L * rows,
      if (rows <= 8192) "Compact" else "Wide", 0)
    parts.put(table, parts.getOrElse(table, Vector.empty) :+ p)
    p
  }

  /** Lazily (re)build the `system_parts` / `system_parts_columns` temp
    * views from the registry. `_state` rides along as a real column —
    * the caller hides it from `*` via hiddenInsertCols. */
  def buildViews(spark: SparkSession,
                 colTypes: String => Seq[(String, String)],
                 sparseKinds: String => Map[(String, String), String] =
                   _ => Map.empty): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val all = parts.toSeq.flatMap { case (t, ps) => ps.map(t -> _) }
      .sortBy { case (t, p) => (t, p.name) }
    val schema = StructType(Seq(
      StructField("database", StringType), StructField("table", StringType),
      StructField("name", StringType), StructField("partition", StringType),
      StructField("partition_id", StringType), StructField("active", IntegerType),
      StructField("rows", LongType), StructField("level", IntegerType),
      StructField("min_block_number", LongType),
      StructField("max_block_number", LongType),
      StructField("marks", LongType), StructField("bytes_on_disk", LongType),
      StructField("data_compressed_bytes", LongType),
      StructField("data_uncompressed_bytes", LongType),
      StructField("part_type", StringType), StructField("is_frozen", IntegerType),
      StructField("disk_name", StringType), StructField("engine", StringType),
      StructField("min_time", TimestampType), StructField("max_time", TimestampType),
      StructField("delete_ttl_info_min", TimestampType),
      StructField("delete_ttl_info_max", TimestampType),
      StructField("move_ttl_info", StructType(Seq(
        StructField("expression", ArrayType(StringType)),
        StructField("min", ArrayType(TimestampType)),
        StructField("max", ArrayType(TimestampType))))),
      StructField("primary_key_bytes_in_memory", LongType),
      StructField("primary_key_bytes_in_memory_allocated", LongType),
      StructField("_state", StringType)))
    val rows = all.map { case (t, p) => Row(
      "default", t, p.name, p.partition, p.partitionId,
      if (p.state == "Active") 1 else 0, p.rows, p.level,
      p.minBlock, p.maxBlock, p.marks, p.bytesOnDisk, p.bytesOnDisk,
      8L * p.rows, p.partType, p.isFrozen, "default", "MergeTree",
      p.minTime, p.maxTime, p.delMin, p.delMax,
      Row(Seq.empty[String], Seq.empty[java.sql.Timestamp],
        Seq.empty[java.sql.Timestamp]),
      if (pkUnloaded.contains(t)) 0L else p.pkBytes,
      if (pkUnloaded.contains(t)) 0L else p.pkBytes,
      p.state) }
    spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      // reference alias columns (StorageSystemParts): part_name/bytes —
      // hidden from `*` by the caller like _state
      .withColumn("part_name", org.apache.spark.sql.functions.col("name"))
      .withColumn("bytes", org.apache.spark.sql.functions.col("bytes_on_disk"))
      .createOrReplaceTempView("system_parts")
    val sparseByTable = scala.collection.mutable.Map.empty[String, Map[(String, String), String]]
    val cols = all.flatMap { case (t, p) =>
      val sk = sparseByTable.getOrElseUpdate(t,
        try sparseKinds(t)
        catch { case scala.util.control.NonFatal(_) => Map.empty })
      colTypes(t).map { case (cn, ct) =>
        ("default", t, p.name, if (p.state == "Active") 1 else 0,
          p.rows, cn, ct, p.bytesOnDisk, p.bytesOnDisk, 8L * p.rows,
          p.partition, p.partType, sk.getOrElse((p.name, cn), "Default"))
      }
    }
    cols.toDF("database", "table", "name", "active", "rows", "column",
        "type", "column_bytes_on_disk", "column_data_compressed_bytes",
        "column_data_uncompressed_bytes", "partition", "part_type",
        "serialization_kind")
      .createOrReplaceTempView("system_parts_columns")
  }
}
