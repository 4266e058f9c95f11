package graft.sources

import graft.core.{NioLocalFileSystem, Salt}
import graft.functions.GeoFunctions.saltOf
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S4/O8/O9: the salted, sorted, partition-aligned keyed store — the
  * parquet stand-in for the reference's HFile→HBase pipeline
  * (TileMapBuilder.java:236-252, SaltPrefixPartitioner.java:21-37).
  *
  * Layout: one directory partition per salt (`salt=NN/`, under any leading
  * partition directories), rows sorted by the full salted key within each
  * partition (HFiles require sorted keys; sorted parquet gives row-group
  * min/max skipping on point lookups). The salt is
  * `Java String.hashCode(key) & 0x0fffffff % modulus`, byte-compatible with
  * the reference's rowkeys. One file per salt directory (the region's HFile
  * analog); write tasks = min(modulus, shuffle partitions). Lookups prune to
  * 1 directory + the row groups covering the key.
  */
object KeyedSink {

  /** Write `df` keyed by `keyCol`, salted into `modulus` sorted directories
    * under each value of the leading `partitionCols`, in ONE job.
    * Hash-partitioning on the directory columns puts each directory in
    * exactly one task, and the sort leads with them, so the writer rolls to
    * a new file at each directory boundary: one file per directory at any
    * task count. The fan-out is capped by the session's shuffle width: on a
    * narrow session one task per salt adds only per-task cost.
    */
  def writeSalted(df: DataFrame, keyCol: Column, modulus: Int, path: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val digits = Salt(modulus).digitCount
    val width = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val dirs = partitionCols :+ "salt"
    val sorted = df.withColumn("key", keyCol)
      .withColumn("salt", saltOf(col("key"), modulus))
      .withColumn("salted_key",
        concat_ws(":", lpad(col("salt"), digits, "0"), col("key")))
      .repartition(math.min(modulus, width), dirs.map(col): _*)
      // leading with the directories satisfies the dynamic-partition writer's
      // required ordering, so it does NOT inject its own (unstable) sort —
      // which would destroy the key order inside each file
      .sortWithinPartitions((dirs :+ "salted_key").map(col): _*)
    NioLocalFileSystem.writer(sorted)
      .mode("overwrite").partitionBy(dirs: _*).parquet(path)
  }

  /** Point lookup — the HBase-GET analog: salt-directory pruning + key
    * predicate pushdown into sorted row groups. This arm schedules a
    * Spark job per GET (~hundreds of ms of scheduling floor); it remains
    * the equality oracle for [[lookupDirect]], which serving paths use.
    */
  def lookup(spark: SparkSession, path: String, modulus: Int, key: String): DataFrame =
    spark.read.parquet(path)
      .filter(col("salt") === Salt(modulus).saltOf(key) && col("key") === key)

  /** JOB-FREE point lookup — the engine-side analog of the reference's
    * single HBase GET (HBaseMaps.java:149-186): salt → partition
    * directory → parquet footer stats prune the sorted row groups →
    * record-level key filter, all in-process through parquet-hadoop. No
    * Spark job, no scheduler, no session required; the perfbench `serve`
    * workload measures it per request (`get.ms_p50`; BASELINE.md has the
    * round-8 numbers beside the scheduled-job arm). Row values and schema equal
    * [[lookup]]'s (file columns in parquet order, then the
    * partition-inferred int `salt`) — SinkSpec-asserted.
    *
    * Scale shape: exactly the reference's serving story — the store is
    * pre-split by salt (modulus = region count), a GET touches ONE
    * directory's footer(s) and the row group(s) whose [min, max] covers
    * the key (the within-partition sort makes that one group). The full
    * scheduled-scan arm exists only as the oracle.
    */
  // one Configuration for every GET: construction parses the Hadoop XML
  // defaults (milliseconds), which would otherwise dominate a ~5 ms read
  private lazy val getConf = new org.apache.hadoop.conf.Configuration()

  // footer cache — the region-server half of the HBase analogy: a serving
  // process holds its store's metadata hot (stores are immutable per
  // manifest version; a new version is a new path, so staleness can't
  // occur — but version CHURN accumulates dead entries, so the cache is
  // a size-bounded access-order LRU: overflow evicts ONLY the coldest
  // entry, so the live version's hot footers survive churn — the
  // clear-all eviction this replaces made every concurrent GET re-warm
  // simultaneously at the bound, a periodic latency cliff under churn
  // (round-9 ADVICE; SinkSpec pins hot-retention across overflow). The
  // synchronized map costs ~100 ns per GET against the ~1-2 ms read —
  // invisible at an 8-thread GET rate. Without the cache every GET
  // re-reads + re-parses the footer (~7 ms of the measured 8 ms,
  // BASELINE.md — the difference between ~8 ms and sub-5 ms).
  private[sources] val FooterCacheMax = 8192
  private val footerCache = new java.util.LinkedHashMap[
      String, org.apache.parquet.hadoop.metadata.ParquetMetadata](
      64, 0.75f, /* accessOrder = */ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        String, org.apache.parquet.hadoop.metadata.ParquetMetadata]): Boolean =
      size() > FooterCacheMax
  }

  // single-flight guard for cold footer reads: the LRU lock must NOT be
  // held across the ~ms read (hot GETs would stall behind it), but a naive
  // read-outside-the-lock lets every thread missing the same new file pay
  // its own duplicate I/O — version churn publishes a hot file to all 8
  // serving threads at once. One future per in-flight path restores the
  // computeIfAbsent dedup the LRU swap dropped.
  private val footerInFlight = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[
      org.apache.parquet.hadoop.metadata.ParquetMetadata]]()

  private def cachedFooter(f: String, hp: org.apache.hadoop.fs.Path)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    footerCache.synchronized {
      val hit = footerCache.get(f)
      if (hit != null) return hit
    }
    val fut = new java.util.concurrent.CompletableFuture[
      org.apache.parquet.hadoop.metadata.ParquetMetadata]()
    val prev = footerInFlight.putIfAbsent(f, fut)
    if (prev != null) {
      // another thread is loading it — unwrap join()'s CompletionException
      // so waiters see the loader's original exception type, the contract
      // the pre-LRU computeIfAbsent gave callers
      try return prev.join()
      catch {
        case e: java.util.concurrent.CompletionException
            if e.getCause != null => throw e.getCause
      }
    }
    // a loader may have finished between the cache check and the losing
    // putIfAbsent race window above — recheck before paying a second read
    footerCache.synchronized {
      val hit = footerCache.get(f)
      if (hit != null) { fut.complete(hit); footerInFlight.remove(f, fut); return hit }
    }
    try {
      val fresh = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        getConf, hp,
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      footerCache.synchronized { footerCache.put(f, fresh) }
      fut.complete(fresh)
      fresh
    } catch {
      case e: Throwable => fut.completeExceptionally(e); throw e
    } finally footerInFlight.remove(f)
  }

  /** Test-only visibility: (size, whether `f` is resident) — containsKey
    * does NOT touch LinkedHashMap access order, so probing is free of
    * Heisenberg effects on the eviction order under test.
    */
  private[sources] def footerCacheProbe(f: String): (Int, Boolean) =
    footerCache.synchronized((footerCache.size(), footerCache.containsKey(f)))

  /** Test-only: an access-order touch (get), as a real GET performs. */
  private[sources] def footerCacheTouch(f: String): Boolean =
    footerCache.synchronized(footerCache.get(f) != null)

  /** Test-only: inject an entry, driving the cache to its bound without
    * 8k real parquet files on disk.
    */
  private[sources] def footerCachePut(f: String,
      meta: org.apache.parquet.hadoop.metadata.ParquetMetadata): Unit =
    footerCache.synchronized(footerCache.put(f, meta))

  /** Test-only: drop every entry. The cache is process-global, so a churn
    * test that saturates it with synthetic paths must reset it or every
    * later same-JVM test/benchmark inherits a full cache (ordering-
    * sensitive results — round-10 ADVICE).
    */
  private[sources] def footerCacheClear(): Unit =
    footerCache.synchronized(footerCache.clear())

  def lookupDirect(path: String, modulus: Int, key: String)
      : Seq[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    // this arm resolves through java.nio.file — a non-local store URI
    // (hdfs://, s3a://…) would silently read as "directory absent" and
    // return empty. Fail loudly instead and point at the Spark arm,
    // which reads any Hadoop-visible filesystem (round-9 ADVICE).
    require(!path.contains("://"),
      s"lookupDirect serves local stores only; got '$path' — use " +
        "KeyedSink.lookup (the Spark arm) for non-local filesystems")
    val salt = Salt(modulus).saltOf(key)
    val saltDir = java.nio.file.Paths.get(path, s"salt=$salt")
    if (!java.nio.file.Files.exists(saltDir)) return Seq.empty
    val files = scala.util.Using.resource(java.nio.file.Files.list(saltDir))(
      _.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toList)
    val kb = org.apache.parquet.io.api.Binary.fromString(key)
    files.flatMap { f =>
      val hp = new org.apache.hadoop.fs.Path(f.toString)
      val footer = cachedFooter(f.toString, hp)
      val schema = footer.getFileMetaData.getSchema
      val keyIdx = (0 until schema.getFieldCount)
        .find(i => schema.getType(i).getName == "key")
        .getOrElse(throw new IllegalArgumentException(
          s"no 'key' column in keyed store $path"))
      // row-group prune on the key column's min/max (the within-salt sort
      // makes the key range per group tight, so ≤1 group usually survives).
      // Binary ordering vs stats ordering agree on the ASCII keys the
      // stores use ("srs:mapKey:z:x:y"); a null/absent stats block is kept.
      val blocks = footer.getBlocks.asScala.filter { b =>
        val st = b.getColumns.get(keyIdx).getStatistics
        st == null || st.isEmpty || !st.hasNonNullValue || {
          val min = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
          val max = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
          min.compareTo(kb) <= 0 && max.compareTo(kb) >= 0
        }
      }.toList
      if (blocks.isEmpty) Nil
      else {
        val r = new org.apache.parquet.hadoop.ParquetFileReader(getConf,
          footer.getFileMetaData, hp, blocks.asJava, schema.getColumns)
        try {
          val colIO = new org.apache.parquet.io.ColumnIOFactory()
            .getColumnIO(schema)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.spark.sql.Row]
          var store = r.readNextRowGroup()
          while (store != null) {
            val rr = colIO.getRecordReader(store,
              new org.apache.parquet.example.data.simple.convert
                .GroupRecordConverter(schema))
            var i = 0L
            while (i < store.getRowCount) {
              val g = rr.read()
              if (g.getFieldRepetitionCount(keyIdx) > 0 &&
                  g.getBinary(keyIdx, 0) == kb)
                out += groupToRow(g, salt)
              i += 1
            }
            store = r.readNextRowGroup()
          }
          out.toSeq
        } finally r.close()
      }
    }
  }

  /** One parquet example-Group → a schema'd Row mirroring the Spark scan:
    * file columns in parquet order, then the int `salt` partition value.
    * The keyed stores are flat primitives by construction — anything else
    * fails loudly rather than decoding wrong.
    */
  private def groupToRow(g: org.apache.parquet.example.data.Group,
      salt: Int): org.apache.spark.sql.Row = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.spark.sql.types._
    val schema = g.getType
    val n = schema.getFieldCount
    val values = new Array[Any](n + 1)
    val fields = new Array[StructField](n + 1)
    var i = 0
    while (i < n) {
      val t = schema.getType(i)
      require(t.isPrimitive, s"keyed store must be flat primitives; " +
        s"field ${t.getName} is nested")
      val p = t.asPrimitiveType()
      val isString = p.getLogicalTypeAnnotation.isInstanceOf[
        org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      val dt: DataType = p.getPrimitiveTypeName match {
        case INT64 => LongType
        case INT32 => IntegerType
        case DOUBLE => DoubleType
        case FLOAT => FloatType
        case BOOLEAN => BooleanType
        case BINARY => if (isString) StringType else BinaryType
        case other =>
          throw new IllegalArgumentException(
            s"unsupported keyed-store type $other for field ${t.getName}")
      }
      values(i) =
        if (g.getFieldRepetitionCount(i) == 0) null
        else p.getPrimitiveTypeName match {
          case INT64 => g.getLong(i, 0)
          case INT32 => g.getInteger(i, 0)
          case DOUBLE => g.getDouble(i, 0)
          case FLOAT => g.getFloat(i, 0)
          case BOOLEAN => g.getBoolean(i, 0)
          case BINARY =>
            if (isString) g.getBinary(i, 0).toStringUsingUTF8
            else g.getBinary(i, 0).getBytes
          case _ => null // unreachable: the require above already threw
        }
      fields(i) = StructField(t.getName, dt, nullable = true)
      i += 1
    }
    values(n) = salt
    fields(n) = StructField("salt", IntegerType, nullable = true)
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      values, StructType(fields))
  }
}
