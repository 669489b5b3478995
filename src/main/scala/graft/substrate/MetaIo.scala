package graft.substrate

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Driver-side reads of METADATA-scale parquet tables — manifests and
  * meta rows — WITHOUT scheduling a Spark job. A real table format's
  * commit path reads its manifests with plain file I/O; resolving an
  * O(#files) manifest through a cluster job pays full job-scheduling
  * latency per metadata lookup, and a derived publish chains several
  * such lookups (ancestry gate, provenance stamp, unreferenced sweep,
  * version listing) — the r13 bench measured the tiny-job storm
  * dominating the stored-index entries' walls. At 100 TB the same
  * property matters for a different reason: commit/serve planning must
  * not occupy cluster resources or queue behind running queries.
  *
  * Scope: SIMPLE scalar schemas only (strings and ints/longs, nullable)
  * — the manifest's (file, cell) and the meta row. Corpus-sized tables
  * and array-typed tables (codes, codebook, centroids) stay Spark
  * scans; relational manifest ALGEBRA (vacuum anti-joins, the
  * DataFrame-typed changedCells split) stays DataFrame — this is only
  * the bounded driver-side collect path, done without a job.
  */
private[substrate] object MetaIo {

  /** The `*.parquet` files directly under `dir`, their paths fully
    * QUALIFIED (scheme + authority): a persisted manifest row must
    * resolve against the filesystem it was listed on, not the reading
    * session's default FS. Listing order; empty when `dir` is absent.
    */
  def parquetFiles(conf: Configuration, dir: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val all =
      try fs.listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    all.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map { s => s.setPath(fs.makeQualified(s.getPath)); s }
  }

  /** One parquet file's schema, from its FOOTER, and all its rows as
    * example Groups — one open per file, opened from the listing's
    * status. The footer carries the schema even when the file holds no
    * rows.
    */
  private def readFile(conf: Configuration,
      f: org.apache.hadoop.fs.FileStatus)
      : (org.apache.parquet.schema.MessageType, Seq[Group]) = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val io = new org.apache.parquet.io.ColumnIOFactory()
        .getColumnIO(schema)
      val rows = Iterator.continually(reader.readNextRowGroup())
        .takeWhile(_ != null).flatMap { store =>
          val rr = io.getRecordReader(store,
            new org.apache.parquet.example.data.simple.convert
              .GroupRecordConverter(schema))
          Iterator.fill(store.getRowCount.toInt)(rr.read())
        }.toVector
      (schema, rows)
    } finally reader.close()
  }

  /** All rows of every `*.parquet` file directly under `dir`, as
    * parquet example Groups. Empty when the directory is absent.
    */
  def groups(conf: Configuration, dir: String): Seq[Group] =
    parquetFiles(conf, dir).flatMap(readFile(conf, _)._2)

  /** Can [[writeRows]] carry this schema? Scalar commit-metadata types
    * — long/int/string/binary/boolean/double, the full universe the
    * manifest writers produce (version/file/row_count/bounds/blooms/
    * kind/delete_key/added_v/batch_tag) — plus ARRAY<DOUBLE> for the
    * vector store's skinny tables (codebook/centroid rows, r17).
    * Callers with any other column type keep the Spark write path.
    */
  def writableSchema(schema: org.apache.spark.sql.types.StructType)
      : Boolean = {
    import org.apache.spark.sql.types._
    schema.fields.forall(_.dataType match {
      case LongType | IntegerType | StringType | BinaryType |
           BooleanType | DoubleType => true
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
  }

  /** WRITE metadata-scale rows as one parquet file + `_SUCCESS` marker
    * under `dir`, DRIVER-SIDE without a Spark job — the write half of
    * this object's discipline (r17; r16 deferred it): a real table
    * format's commit path writes its manifest with plain file I/O, and
    * profiling showed every snapshot/vector commit paying a full Spark
    * write job (planning + task + committer) to persist O(#files)
    * driver-resident rows. Types map exactly as Spark's own parquet
    * writer maps them (INT64/INT32/BINARY-UTF8/BINARY/BOOLEAN/DOUBLE,
    * all `optional`), so the files stay readable by BOTH consumers of
    * manifests — [[groups]] here and `spark.read.parquet` (incl.
    * mergeSchema unions with Spark-written manifests from older
    * versions). Callers must pre-check [[writableSchema]].
    */
  def writeRows(conf: Configuration, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row]): Unit = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    require(writableSchema(schema),
      s"writeRows cannot carry schema $schema — use the Spark writer")
    val fields = schema.fields.map { f =>
      (f.dataType match {
        case LongType => Types.optional(INT64)
        case IntegerType => Types.optional(INT32)
        case StringType =>
          Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        case BinaryType => Types.optional(BINARY)
        case BooleanType => Types.optional(BOOLEAN)
        case DoubleType => Types.optional(DOUBLE)
        case ArrayType(DoubleType, containsNull) =>
          // the standard 3-level LIST layout Spark's writer produces
          // (`optional group f (LIST) { repeated group list { element
          // } }`), element required/optional per containsNull so the
          // read-back Spark schema matches the Spark-written one
          if (containsNull)
            Types.optionalList().optionalElement(DOUBLE)
          else Types.optionalList().requiredElement(DOUBLE)
        case other => throw new IllegalStateException(other.toString)
      }).named(f.name)
    }
    val msg = new org.apache.parquet.schema.MessageType("spark_schema",
      fields: _*)
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p)
    val file = new Path(p, "part-00000-graft-meta.snappy.parquet")
    val wconf = new Configuration(conf)
    org.apache.parquet.hadoop.example.GroupWriteSupport
      .setSchema(msg, wconf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(file, wconf))
      .withConf(wconf)
      .withType(msg)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val factory =
        new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
      rows.foreach { r =>
        val g = factory.newGroup()
        var i = 0
        while (i < schema.fields.length) {
          if (!r.isNullAt(i)) schema.fields(i).dataType match {
            case LongType => g.append(schema.fields(i).name, r.getLong(i))
            case IntegerType => g.append(schema.fields(i).name, r.getInt(i))
            case StringType => g.append(schema.fields(i).name,
              org.apache.parquet.io.api.Binary.fromString(r.getString(i)))
            case BinaryType => g.append(schema.fields(i).name,
              org.apache.parquet.io.api.Binary.fromConstantByteArray(
                r.getAs[Array[Byte]](i)))
            case BooleanType =>
              g.append(schema.fields(i).name, r.getBoolean(i))
            case DoubleType =>
              g.append(schema.fields(i).name, r.getDouble(i))
            case ArrayType(DoubleType, _) =>
              // an empty array adds the LIST group with zero `list`
              // entries — distinct from null (group absent), matching
              // Spark's writer
              val lg = g.addGroup(schema.fields(i).name)
              r.getSeq[Any](i).foreach { v =>
                val el = lg.addGroup("list")
                if (v != null)
                  el.append("element", v.asInstanceOf[Double])
              }
            case other => throw new IllegalStateException(other.toString)
          }
          i += 1
        }
        writer.write(g)
      }
    } finally writer.close()
    // the commit-protocol marker every Spark write leaves and every
    // reader of a committed dir checks (_SUCCESS-gated committedVersions
    // / versions listings)
    fs.create(new Path(p, "_SUCCESS"), true).close()
  }

  /** READ metadata-scale parquet rows back as Spark (schema, rows),
    * driver-side — the inverse of [[writeRows]] (r17): what
    * `appendCommit` feeds its ancestor-manifest union from without a
    * cluster scan job. The schema is read from the file footers, so a
    * zero-row file reads back with its columns. Schemas merge across
    * files by field name (first-seen order, the mergeSchema shape a
    * stats-evolving store needs); INT32 and INT64 under one name widen
    * to LONG, and any other pair of types under one name fails loudly.
    * Only the metadata type universe is supported — any other parquet
    * type fails here, routing the caller to a Spark read.
    */
  def readRows(conf: Configuration, dir: String)
      : (org.apache.spark.sql.types.StructType,
         Seq[org.apache.spark.sql.Row]) = readRowsMerged(conf, Seq(dir))

  /** [[readRows]] over SEVERAL directories with one merged schema —
    * the mergeSchema union shape `SnapshotStore.manifest` serves (a
    * store whose older versions committed plain rows and whose newer
    * ones carry stats reads as ONE table, stats null on legacy rows).
    */
  def readRowsMerged(conf: Configuration, dirs: Seq[String])
      : (org.apache.spark.sql.types.StructType,
         Seq[org.apache.spark.sql.Row]) = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    def sparkType(t: org.apache.parquet.schema.Type): DataType = {
      if (!t.isPrimitive) {
        // the standard 3-level LIST layout [[writeRows]] produces for
        // ARRAY<DOUBLE> (and Spark's own writer produces for legacy
        // files): group (LIST) { repeated group list { element } }
        val gt = t.asGroupType()
        require(gt.getLogicalTypeAnnotation.isInstanceOf[
            LogicalTypeAnnotation.ListLogicalTypeAnnotation] &&
            gt.getFieldCount == 1,
          s"metadata field ${t.getName} is a non-LIST group — outside " +
            "the metadata type universe; read it with Spark")
        val el = gt.getType(0).asGroupType().getType(0).asPrimitiveType()
        require(el.getPrimitiveTypeName == PrimitiveTypeName.DOUBLE,
          s"metadata LIST field ${t.getName} carries " +
            s"${el.getPrimitiveTypeName} — only ARRAY<DOUBLE> supported")
        return ArrayType(DoubleType, containsNull =
          el.getRepetition !=
            org.apache.parquet.schema.Type.Repetition.REQUIRED)
      }
      val pt = t.asPrimitiveType()
      pt.getPrimitiveTypeName match {
        case PrimitiveTypeName.INT64 => LongType
        case PrimitiveTypeName.INT32 => IntegerType
        case PrimitiveTypeName.BINARY
            if pt.getLogicalTypeAnnotation.isInstanceOf[
              LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
          StringType
        case PrimitiveTypeName.BINARY => BinaryType
        case PrimitiveTypeName.BOOLEAN => BooleanType
        case PrimitiveTypeName.DOUBLE => DoubleType
        case other => throw new IllegalStateException(
          s"metadata field ${t.getName} has parquet type $other — " +
            "outside the metadata type universe; read it with Spark")
      }
    }
    val files = dirs.flatMap(parquetFiles(conf, _)).map(readFile(conf, _))
    val gs = files.flatMap(_._2)
    // a LONG field reads INT32 values too (optLong widens)
    val fields = scala.collection.mutable.LinkedHashMap[String, DataType]()
    files.foreach { case (t, _) =>
      (0 until t.getFieldCount).foreach { i =>
        val f = t.getType(i)
        val st = sparkType(f)
        fields.get(f.getName) match {
          case Some(prev) if prev == st => ()
          case Some(prev) if Set(prev, st) == Set[DataType](IntegerType,
              LongType) => fields.put(f.getName, LongType)
          case Some(prev) => throw new IllegalArgumentException(
            s"metadata field ${f.getName} carries both $prev and $st " +
              s"under ${dirs.mkString(",")} — schemas must agree to merge")
          case None => fields.put(f.getName, st)
        }
      }
    }
    val schema = StructType(fields.toSeq.map { case (n, t) =>
      StructField(n, t, nullable = true) })
    val rows = gs.map { g =>
      org.apache.spark.sql.Row.fromSeq(schema.fields.toSeq.map { f =>
        f.dataType match {
          case LongType => optLong(g, f.name).map(Long.box).orNull
          case IntegerType =>
            // optLong widens INT32; narrow back for an IntegerType field
            optLong(g, f.name).map(v => Int.box(v.toInt)).orNull
          case StringType => optString(g, f.name).orNull
          case BinaryType => optBinary(g, f.name).orNull
          case BooleanType =>
            if (!g.getType.containsField(f.name) ||
                g.getFieldRepetitionCount(f.name) == 0) null
            else Boolean.box(g.getBoolean(f.name, 0))
          case DoubleType =>
            if (!g.getType.containsField(f.name) ||
                g.getFieldRepetitionCount(f.name) == 0) null
            else Double.box(g.getDouble(f.name, 0))
          case ArrayType(DoubleType, _) =>
            if (!g.getType.containsField(f.name) ||
                g.getFieldRepetitionCount(f.name) == 0) null
            else {
              val lg = g.getGroup(f.name, 0)
              val n = lg.getFieldRepetitionCount(0)
              (0 until n).map { j =>
                val el = lg.getGroup(0, j)
                if (el.getFieldRepetitionCount(0) == 0) null
                else Double.box(el.getDouble(0, 0))
              }
            }
          case other => throw new IllegalStateException(other.toString)
        }
      })
    }
    (schema, rows)
  }

  /** Nullable integral field (parquet INT32 or INT64) by name. */
  def optLong(g: Group, name: String): Option[Long] = {
    val t = g.getType
    if (!t.containsField(name)) return None
    if (g.getFieldRepetitionCount(name) == 0) return None
    t.getType(name).asPrimitiveType().getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 => Some(g.getInteger(name, 0).toLong)
      case PrimitiveTypeName.INT64 => Some(g.getLong(name, 0))
      case other => throw new IllegalStateException(
        s"metadata field $name is $other, expected an integral type")
    }
  }

  /** Nullable string field by name. */
  def optString(g: Group, name: String): Option[String] = {
    if (!g.getType.containsField(name)) return None
    if (g.getFieldRepetitionCount(name) == 0) return None
    Some(g.getString(name, 0))
  }

  /** Nullable binary field by name (bloom sidecars in stats manifests). */
  def optBinary(g: Group, name: String): Option[Array[Byte]] = {
    if (!g.getType.containsField(name)) return None
    if (g.getFieldRepetitionCount(name) == 0) return None
    Some(g.getBinary(name, 0).getBytes)
  }

  /** String bounds longer than this are TRUNCATED (r15 — VERDICT r14
    * what's-missing #4 / next #6; until r14 they were dropped as
    * unknown, so predicates on long-text prefixes never skipped files):
    * the MIN truncates to its first [[TruncateTo]] code points (a
    * strict prefix sorts ≤ the full string in unsigned UTF-8 order —
    * the range can only widen), and the MAX truncates with the last
    * incrementable code point bumped ([[truncateMax]], the Iceberg
    * UnicodeUtil discipline) so the recorded bound sorts strictly ABOVE
    * every string sharing the prefix — again only widening. Truncation
    * operates on CODE POINTS, never raw bytes, so a multi-byte char is
    * never split (the byte-boundary hazard that kept r13 conservative);
    * code-point order equals UTF-8 unsigned byte order, so the
    * incremented bound compares correctly under [[utf8Lt]]. A max whose
    * every prefix position is saturated (all U+10FFFF) stays UNKNOWN —
    * unknown beats wrong, as everywhere in this planner.
    */
  private val MaxStringBound = 64
  private val TruncateTo = 16

  /** First `n` code points of `s` — the conservative LOWER bound. */
  private[substrate] def truncateMin(s: String, n: Int): String =
    if (s.codePointCount(0, s.length) <= n) s
    else s.substring(0, s.offsetByCodePoints(0, n))

  /** First `n` code points with the last incrementable one bumped —
    * strictly above every string sharing the truncated prefix, the
    * conservative UPPER bound. The bump skips the surrogate gap
    * (U+D7FF increments to U+E000 — isolated surrogates don't
    * round-trip through UTF-8) and walks backward past saturated
    * (U+10FFFF) positions; None when every position is saturated.
    */
  private[substrate] def truncateMax(s: String, n: Int): Option[String] = {
    if (s.codePointCount(0, s.length) <= n) return Some(s)
    val cps = s.codePoints().toArray.take(n)
    var i = n - 1
    while (i >= 0) {
      val c = cps(i)
      if (c < Character.MAX_CODE_POINT) {
        val next = if (c == 0xD7FF) 0xE000 else c + 1
        return Some(new String(cps, 0, i) + new String(Array(next), 0, 1))
      }
      i -= 1
    }
    None
  }

  /** Unsigned lexicographic comparison of UTF-8 bytes — the order
    * parquet writers compute BINARY/UTF8 statistics in (and the order
    * Spark's UTF8String comparisons use), so cross-block reduction and
    * probe-side comparison agree with how the bounds were produced.
    */
  private[substrate] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Per-FILE statistics read from the parquet FOOTER, driver-side —
    * row count plus min/max for each requested column: the stats a
    * table format's commit records per data file (Iceberg manifests
    * carry per-file column bounds; Delta collects per-file min/max into
    * its log) so scan PLANNING can skip files without touching row
    * data. The writer already computed these — every parquet row group
    * carries column statistics — so collecting them costs one footer
    * read per file (O(#files) driver I/O, the same budget as the
    * manifest listing itself), never a cluster job.
    *
    * Two bound domains, each column landing in at most one (VERDICT r13
    * what's-missing #3 — string predicates used to prune nothing):
    * INTEGRAL columns (INT32/INT64, plain signed) report LONG bounds;
    * STRING columns (BINARY + UTF8 annotation) report string bounds in
    * unsigned UTF-8 byte order, truncated conservatively when a bound
    * exceeds [[MaxStringBound]] chars (see [[truncateMax]]). A column's bounds are absent —
    * unknown, so pruning must keep the file — when the column is
    * missing from the file schema, has any other physical/logical type
    * (DECIMAL-backed INT64 stores UNSCALED values, unsigned ints
    * reorder above 2^63, TIMESTAMP annotations are value-domain
    * ambiguous — code-review r13 round 2), or any row group recorded no
    * non-null values for it (min-of-mins over a block with empty stats
    * would understate the range). Row count is exact regardless: it
    * comes from block metadata, not column stats.
    */
  /** Exact row count of one parquet file from its footer's block
    * metadata — driver-side, no Spark job (what [[SnapshotStore
    * .countAt]] subtracts per positional-delete sidecar file, r16).
    */
  def rowCount(conf: Configuration, file: String): Long =
    footerStats(conf, file, Nil)._1

  def footerStats(conf: Configuration, file: String, cols: Seq[String])
      : (Long, Map[String, (Long, Long)], Map[String, (String, String)]) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(file), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      def statsOf(c: String,
          typeOk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
            => Boolean) =
        blocks.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == c)
            .filter(typeOk)
            .map(_.getStatistics)
            .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
            .map(s => (s.genericGetMin, s.genericGetMax))
        }
      val longBounds = cols.flatMap { c =>
        val perBlock = statsOf(c, cc =>
          (cc.getPrimitiveType.getPrimitiveTypeName ==
              PrimitiveTypeName.INT32 ||
            cc.getPrimitiveType.getPrimitiveTypeName ==
              PrimitiveTypeName.INT64) &&
          (cc.getPrimitiveType.getLogicalTypeAnnotation match {
            case null => true
            case i: org.apache.parquet.schema
                .LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
            case _ => false
          })).map(_.flatMap {
            case (mn: java.lang.Integer, mx: java.lang.Integer) =>
              Some((mn.toLong, mx.toLong))
            case (mn: java.lang.Long, mx: java.lang.Long) =>
              Some((mn.toLong, mx.toLong))
            case _ => None
          })
        if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
        else Some(c -> perBlock.flatten
          .reduce((a, b) => (math.min(a._1, b._1), math.max(a._2, b._2))))
      }.toMap
      val strBounds = cols.flatMap { c =>
        val perBlock = statsOf(c, cc =>
          cc.getPrimitiveType.getPrimitiveTypeName ==
            PrimitiveTypeName.BINARY &&
          cc.getPrimitiveType.getLogicalTypeAnnotation
            .isInstanceOf[org.apache.parquet.schema
              .LogicalTypeAnnotation.StringLogicalTypeAnnotation])
          .map(_.flatMap {
            case (mn: org.apache.parquet.io.api.Binary,
                mx: org.apache.parquet.io.api.Binary) =>
              Some((mn.toStringUsingUTF8, mx.toStringUsingUTF8))
            case _ => None
          })
        if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
        else {
          val (mn, mx) = perBlock.flatten.reduce((a, b) =>
            (if (utf8Lt(a._1, b._1)) a._1 else b._1,
              if (utf8Lt(a._2, b._2)) b._2 else a._2))
          // over-long bounds truncate CONSERVATIVELY (min → prefix,
          // max → prefix-and-increment) instead of dropping to unknown
          val lo = if (mn.length > MaxStringBound)
            truncateMin(mn, TruncateTo) else mn
          val hiOpt = if (mx.length > MaxStringBound)
            truncateMax(mx, TruncateTo) else Some(mx)
          hiOpt.map(hi => c -> (lo, hi))
        }
      }.toMap
      (rows, longBounds, strBounds)
    } finally reader.close()
  }
}
