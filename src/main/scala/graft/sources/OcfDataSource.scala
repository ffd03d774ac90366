package graft.sources

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}
import java.util.OptionalLong

import graft.avro._
import graft.spark.{AvroRuntime, SchemaConverters}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, GlobFilter, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Splittable DataSource V2 reader for Avro Object Container Files:
  * `spark.read.format("graft-ocf").load(dir)`.
  *
  * This is the 100 TB face of S1. The `binaryFile`-based scan
  * ([[graft.spark.OcfFiles.scanDirectory]]) decodes one FILE per task, so a
  * directory of a few huge files serializes on file count. OCF was designed
  * to split WITHIN a file: the writer flushes a block every ~64 KB and seals
  * it with the header's 16-byte sync marker (reference:
  * python-udf/avro/datafile.py:39 SYNC_INTERVAL, 380-394 sync scan), so any
  * byte offset can be re-anchored to the next block boundary without reading
  * what came before. This source plans `ceil(fileLen / splitSize)` input
  * partitions per file and each task decodes exactly the blocks anchored in
  * its range — a 10 GB file fans out across the cluster like 80 files would.
  *
  * Split ownership uses the standard Avro contract: a block whose
  * count-varint begins at offset `b` (always immediately after a sync
  * marker) belongs to the split `[start, end)` for which scanning from
  * `start` finds that marker first and `b < end + 16`. Every block lands in
  * exactly one split: markers at `m ∈ [start, end)` anchor blocks
  * `b = m + 16 ∈ [start+16, end+16)`, and the ranges tile. The sync scan can
  * in principle false-positive on payload bytes that happen to equal the
  * marker (the block framing then fails loudly on the sync check) — the same
  * 2^-128-per-offset exposure every Avro splitter accepts.
  *
  * Column pruning is pushed INTO the decode: `pruneColumns` rebuilds the
  * Avro reader schema to the pushed-down shape at ANY depth (Spark's
  * `SchemaPruning` hands down nested prunes), and the resolving decoder
  * then type-directed-skips the dropped writer fields (P1/P2, reference:
  * python-udf/avro/io.py:954-972,793-822) — pruned columns cost a varint
  * walk, not a decode. `SELECT count(*)` decodes zero fields;
  * `select(col("a.b"))` decodes only `b` inside `a`.
  *
  * Options: `readerSchema` (Avro JSON; defaults to the first file's writer
  * schema), `splitSize` (bytes; defaults to
  * `spark.sql.files.maxPartitionBytes`), `pathGlobFilter`,
  * `recursiveFileLookup`. Files may differ in writer schema and codec —
  * each split resolves its own file's header against the shared reader
  * schema.
  */
final class OcfDataSource extends TableProvider with DataSourceRegister {
  import OcfDataSource._

  // one provider instance serves one read; memoize so inferSchema + getTable
  // don't list the directory (and read a header) twice
  @volatile private var cached: Option[(String, Resolved)] = None
  private def resolvedFor(options: CaseInsensitiveStringMap): Resolved = {
    val key = options.asCaseSensitiveMap().toString
    cached match {
      case Some((k, r)) if k == key => r
      case _ =>
        val r = resolve(options)
        cached = Some((key, r))
        r
    }
  }

  override def shortName(): String = "graft-ocf"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolvedFor(options).sql
  /** Writes hand the QUERY schema to `getTable` instead of calling
    * [[inferSchema]] — essential for writing to a directory that does not
    * exist yet (a read-style resolve would fail on the empty listing).
    * Resolution therefore happens LAZILY, at first scan. */
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // `df.write.partitionBy(cols)` arrives here as identity transforms —
    // the only transform family a directory layout can express
    val partCols = partitioning.map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1 =>
        t.references()(0).fieldNames()(0)
      case other => throw new IllegalArgumentException(
        s"graft-ocf: unsupported partition transform '$other'; only " +
          "partitionBy(column) (identity) maps to a directory layout")
    }
    new OcfTable(Option(schema), partitioning, partCols, () => resolvedFor(opts))
  }
}

object OcfDataSource {
  /** One listed input file; `partitionValues` (aligned with the resolve's
    * inferred partition columns, null = hive null dir) ride along from the
    * listing so partition pruning can run BEFORE any header is read. */
  final case class FileSlice(path: String, len: Long,
                             partitionValues: Array[String] = Array.empty)

  /** One input file plus everything a split needs from its OCF header —
    * resolved ONCE at planning time and shipped ONCE per stage inside
    * [[OcfReaderFactory]] (splits carry only an index into it), so a
    * thousand splits of one file never re-read or re-parse the header (at
    * q50's 64 KB splits the per-split pread roughly doubled bytes read), and
    * header errors (truncation, bad magic, unknown codec) fail the QUERY
    * PLAN instead of a mid-job task. */
  final case class OcfFileMeta(path: String, len: Long, writerSchemaJson: String,
                               codecName: String, sync: Array[Byte], headerEnd: Long,
                               partitionValues: Array[String] = Array.empty,
                               statsJson: Option[String] = None,
                               bloomJson: Option[String] = None,
                               blockIndexJson: Option[String] = None,
                               sortedByJson: Option[String] = None,
                               rowsStamp: Option[Long] = None,
                               // manifest-sourced metas ([[OcfSnapshots]]) inline
                               // everything EXCEPT the potentially-large bloom /
                               // block-index stamps; these flags say the HEADER
                               // holds one, so the scan preads it lazily — only
                               // when a query shape can actually use it
                               bloomInHeader: Boolean = false,
                               blockIndexInHeader: Boolean = false)

  /** Driver-side view of one read: the frozen file LISTING (header
    * resolution is deferred to [[OcfScanBuilder.build]] so partition
    * pruning can drop files before their headers are ever read; only
    * `readerSchema=auto` — which needs every writer schema — prefetches
    * them), the reader schema, its Spark shape (`dataSql` = file contents,
    * `sql` = dataSql ++ inferred partition columns as strings), the planned
    * split size, and the listing parameters (kept so a STREAMING read can
    * re-list the same directories on every micro-batch). */
  final case class Resolved(files: Seq[FileSlice], readerJson: String,
                            dataSql: StructType, sql: StructType, wrap: Boolean,
                            conf: Configuration, splitSize: Long,
                            partCols: Seq[String] = Nil,
                            partSchema: StructType = new StructType(),
                            prefetched: Option[Seq[OcfFileMeta]] = None,
                            paths: Seq[String] = Nil,
                            glob: Option[String] = None,
                            recursive: Boolean = false,
                            maxFilesPerTrigger: Option[Int] = None,
                            maxBytesPerTrigger: Option[Long] = None,
                            reportPartitioning: Boolean = false,
                            bucket: Option[OcfBucket.Spec] = None,
                            // incremental STREAMING (X78): qualified paths of
                            // the startingVersion snapshot's files — the
                            // micro-batch source's discovery never admits
                            // them, so a stream started "from version v"
                            // processes only what landed after v
                            streamExclude: Set[String] = Set.empty,
                            // branch read (X83): batch-only pin to a branch head
                            branchRead: Boolean = false,
                            // startingVersion + endingVersion: a bounded
                            // range is batch-only (a stream has no end)
                            boundedIncremental: Boolean = false,
                            // VERSION/TIMESTAMP AS OF (or a tag): batch-only
                            // (streaming discovery follows the LATEST
                            // manifest and would silently leave the pin)
                            versionPinned: Boolean = false,
                            // vectorized flat-scan lane (X91) opt-out
                            columnarEnabled: Boolean = true,
                            // merge-on-read position deletes (X87): qualified
                            // data-file path -> metas of the delete files
                            // holding its deleted row ordinals. Readers of a
                            // mapped file skip those positions; affected
                            // files plan unsplit.
                            deletes: Map[String, Seq[OcfFileMeta]] = Map.empty,
                            // merge-on-read equality deletes (X94): qualified
                            // data-file path -> metas of the equality-delete
                            // files born AFTER it (seq order). Readers of a
                            // mapped file drop rows whose key tuple matches;
                            // files may still split (the filter is stateless).
                            eqDeletes: Map[String, Seq[OcfFileMeta]] = Map.empty,
                            // hidden partition transforms (X88): spec + the
                            // index of its directory value in each file's
                            // partitionValues array
                            transforms: Seq[(OcfTransforms.Spec, Int)] = Nil) {
    /** Driver-side per-path header memo: one read per file per RESOLVE, no
      * matter how many scans (builds/actions) share this resolve. */
    val metaCache = new java.util.concurrent.ConcurrentHashMap[String, OcfFileMeta]()

    /** Key columns of every attached equality-delete file (X94): the delete
      * file's writer schema IS its key tuple, so the union here is what
      * column pruning must keep readable for the reader-side filter. */
    lazy val eqKeyCols: Set[String] =
      eqDeletes.valuesIterator.flatten.flatMap(m =>
        scala.util.Try(graft.avro.AvroSchemaParser.parse(m.writerSchemaJson))
          .toOption match {
          case Some(r: graft.avro.ARecord) => r.fields.map(_.name)
          case _ => Nil
        }).toSet
  }

  /** Name of the `_file` METADATA column (the row's source-file path) every
    * graft-ocf table exposes unless a real column shadows it — the V2
    * metadata-column analog of `input_file_name()`, and the attribute a
    * row-level operation requires so Spark's group-based DELETE/UPDATE/MERGE
    * plans project data and metadata separately before the write. */
  val FileColName = "_file"

  private[sources] object FileMetadataColumn
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = FileColName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.StringType
    // NON-nullable: delta row-level operations use (_file, _pos) as the row
    // id, and Spark refuses nullable row-id attributes. A MERGE's NOT
    // MATCHED insert rows still carry a null in the (ignored) metadata
    // projection — Spark does not re-check metadata nullability there.
    override def isNullable: Boolean = false
    override def comment(): String = "path of the data file the row came from"
  }

  /** Name of the `_pos` METADATA column: the row's ordinal within its data
    * file, counted over RAW datums from the file's first block (position 0)
    * — the row half of the (file, pos) row id merge-on-read DELETE writes
    * into position-delete files (X87). Requesting it plans every file as a
    * single unsplit task (a mid-file split cannot know how many rows
    * precede it), which is exactly the DELETE-scan shape: candidate files
    * are already pruned by the predicate before positions are counted. */
  val PosColName = "_pos"

  private[sources] object PosMetadataColumn
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = PosColName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false // row-id attribute (see _file)
    override def comment(): String = "row ordinal within its data file"
  }

  /** Test observability: counts [[readHeaderAt]] calls, asserting the
    * one-header-read-per-file planning contract. */
  private[graft] val headerReads = new java.util.concurrent.atomic.AtomicLong

  /** Test observability: the file paths the last-built scan actually plans
    * splits over — AFTER partition pruning and stats skipping — proving a
    * selective predicate eliminates whole files from the plan. */
  private[graft] val lastPlannedFiles =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

  /** Test observability: the effective reader schema JSON of the last-built
    * scan (after column pruning pushed the required schema into the decode),
    * asserting that nested pruning reached the decoder. */
  private[graft] val lastBuiltReaderJson =
    new java.util.concurrent.atomic.AtomicReference[String]

  /** Thrown when a required field has no (unique) match in the Avro record —
    * the caller falls back to the UNPRUNED schema so a requested column can
    * never silently vanish from `readSchema()`. */
  private[graft] final class PruneMismatch(msg: String) extends RuntimeException(msg)

  /** Rebuild `avro` to the (possibly nested-pruned) shape `required`
    * requests: Spark's V2 pushdown hands `pruneColumns` a schema pruned at
    * ANY depth (`SchemaPruning`), and Avro resolution matches record fields
    * by NAME, so dropping a field at any record level turns its bytes into a
    * type-directed wire skip (P2, reference python-udf/avro/io.py:793-822,
    * 990-1039). Recurses through records, nullable record unions, arrays and
    * maps; shapes resolution can't narrow (general unions, refs, leaves)
    * keep their whole subtree — partial pruning is safe because Spark
    * rewrites accessors against whatever `readSchema()` returns.
    *
    * Field matching is exact-name first, then unique case-insensitive
    * (Spark's default analysis is case-insensitive, so the pushed-down name
    * may differ in case from the Avro field). No match → [[PruneMismatch]],
    * never a silent drop. */
  private[graft] def pruneAvro(avro: AvroSchema, required: org.apache.spark.sql.types.DataType): AvroSchema =
    (avro, required) match {
      case (rec: ARecord, req: StructType) =>
        rec.copy(fields = req.fields.toSeq.map { rf =>
          val f = rec.fields.find(_.name == rf.name).getOrElse {
            rec.fields.filter(_.name.equalsIgnoreCase(rf.name)) match {
              case Seq(one) => one
              case other => throw new PruneMismatch(
                s"required field '${rf.name}' matches ${other.size} fields of record '${rec.name}'")
            }
          }
          f.copy(schema = pruneAvro(f.schema, rf.dataType))
        })
      case (u: AUnion, req) if u.nonNullBranches.lengthCompare(1) == 0 =>
        AUnion(u.branches.map(b => if (b == ANull) b else pruneAvro(b, req)))
      case (AArray(items), org.apache.spark.sql.types.ArrayType(el, _)) =>
        AArray(pruneAvro(items, el))
      case (AMap(values), org.apache.spark.sql.types.MapType(_, v, _)) =>
        AMap(pruneAvro(values, v))
      case _ => avro
    }

  private[sources] def sqlShape(readerJson: String): (StructType, Boolean) =
    SchemaConverters.toSqlType(AvroRuntime.parse(readerJson)).dataType match {
      case st: StructType => (st, false)
      case other          => (StructType(Seq(StructField("value", other))), true)
    }

  private[sources] def resolve(options: CaseInsensitiveStringMap): Resolved = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val paths = pathsOf(options)
    require(paths.nonEmpty, "graft-ocf: no 'path' specified")
    val glob = Option(options.get("pathGlobFilter"))
    val userRecursive = options.getBoolean("recursiveFileLookup", false)
    var recursive = userRecursive
    // Snapshot-managed directory ([[OcfSnapshots]]): the manifest — ONE
    // small JSON, not a recursive million-file listing — is the visible
    // file set; retained (time-travel) files in the directory are invisible
    // to it by construction, so even a bare path read of a snapshot table
    // stays correct. `graft.snapshot.version` pins a historical manifest
    // (VERSION AS OF through the catalog).
    val snapVersion = Option(options.get("graft.snapshot.version")).map(_.toLong)
    // incremental append scan (X78): files added in (startingVersion,
    // snapVersion-or-latest] — see [[OcfSnapshots.incrementalFiles]]
    val snapStarting =
      Option(options.get("graft.snapshot.startingVersion")).map(_.toLong)
    // branch read (X83): the branch head's manifest is the visible set
    val snapBranch =
      Option(options.get("graft.snapshot.branch")).map(_.trim).filter(_.nonEmpty)
    require(snapBranch.isEmpty || (snapVersion.isEmpty && snapStarting.isEmpty),
      "graft-ocf: a branch read cannot combine with VERSION AS OF or " +
        "startingVersion (branches have their own single head)")
    val snapRoot: Option[Path] =
      if (paths.length == 1 && glob.isEmpty) {
        val root = new Path(paths.head)
        val fs = root.getFileSystem(conf)
        if (OcfSnapshots.enabled(fs, root)) Some(root) else None
      } else None
    require((snapVersion.isEmpty && snapStarting.isEmpty && snapBranch.isEmpty) ||
        snapRoot.isDefined,
      "graft-ocf: graft.snapshot.version/startingVersion/branch needs a " +
        s"single snapshot-managed root directory; got ${paths.mkString(", ")} glob=$glob")
    // a silently-ignored file restriction would read the WHOLE table where
    // the caller (rewrite_position_deletes) meant a targeted subset
    require(Option(options.get("graft.files")).isEmpty || snapRoot.isDefined,
      "graft-ocf: graft.files needs a single snapshot-managed root directory")
    // manifest-embedded header metadata, keyed by qualified path: reads of
    // a meta-carrying manifest plan with ZERO per-file header preads
    var snapMetaByPath: Map[String, OcfFileMeta] = Map.empty
    var streamExclude: Set[String] = Set.empty
    var deletesByPath: Map[String, Seq[OcfFileMeta]] = Map.empty
    var eqDeletesByPath: Map[String, Seq[OcfFileMeta]] = Map.empty
    var listed = snapRoot match {
      case Some(root) =>
        val fs = root.getFileSystem(conf)
        val snapFilesAll = snapBranch match {
          case Some(b) => OcfSnapshots.branchHead(fs, root, b).files
          case None => snapStarting match {
          case Some(start) =>
            // one call validates the range AND returns the start snapshot's
            // paths — the STREAMING exclusion set: a stream "from version v"
            // discovers everything else, forever
            val (inc, startPaths) =
              OcfSnapshots.incrementalWithStart(fs, root, start, snapVersion)
            val baseQ = fs.makeQualified(root)
            streamExclude = startPaths.map(p => new Path(baseQ, p).toString)
            inc
          case None =>
            val snap = snapVersion match {
              case Some(v) => OcfSnapshots.read(fs, root, v)
              case None => OcfSnapshots.latest(fs, root).getOrElse(
                throw new IllegalArgumentException(
                  s"graft-ocf: $root has a ${OcfSnapshots.Dir} directory but no manifest"))
            }
            snap.files
        }
        }
        recursive = true // manifest files live in col=value subtrees
        val base = fs.makeQualified(root)
        // split position-delete (X87) and equality-delete (X94) files out
        // of the data set: they are attached to data-file READS (by target
        // path / by birth seq respectively), never read as table data
        val delFiles = snapFilesAll.filter(_.isPositionDelete)
        val eqFiles = snapFilesAll.filter(_.isEqualityDelete)
        val snapFiles0 = snapFilesAll.filter(_.isData)
        require((delFiles.isEmpty && eqFiles.isEmpty) || snapStarting.isEmpty,
          s"graft-ocf: incremental read after version ${snapStarting.getOrElse(-1L)} " +
            s"refused: the range committed ${delFiles.size} position-delete " +
            s"and ${eqFiles.size} equality-delete file(s) — rows were " +
            "logically REMOVED, so the changes are not representable as " +
            "appended rows. Read a full snapshot instead, or start after " +
            "the deleting commit (or after rewrite_position_deletes folded it).")
        // `graft.files`: restrict the read to NAMED table-relative data
        // files (maintenance surface — rewrite_position_deletes reads
        // exactly the delete-burdened files). Unknown names fail loudly.
        val onlyRel = Option(options.get("graft.files"))
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        val snapFiles = onlyRel match {
          case Some(sel) =>
            val have = snapFiles0.map(_.path).toSet
            val missing = sel.diff(have)
            require(missing.isEmpty,
              s"graft-ocf: graft.files names ${missing.size} file(s) not in " +
                s"the visible snapshot (e.g. ${missing.head})")
            snapFiles0.filter(f => sel(f.path))
          case None => snapFiles0
        }
        val keptTargets = snapFiles.map(_.path).toSet
        def deleteMeta(d: OcfSnapshots.SnapFile): OcfFileMeta = {
          val qp = new Path(base, d.path).toString
          d.meta.map(_.copy(path = qp, len = d.len)).getOrElse(
            // delete files commit with inlined metas; pread covers any
            // hand-built manifest that omitted them
            fetchMetas(conf, Seq(FileSlice(qp, d.len))).head)
        }
        deletesByPath = delFiles.filter(d => keptTargets(d.deleteOf.get))
          .groupBy(_.deleteOf.get).map { case (target, dels) =>
          new Path(base, target).toString -> dels.map(deleteMeta)
        }
        // equality deletes (X94) burden every kept data file BORN BEFORE
        // them (seq order, legacy seq-0 files before everything); the
        // reader filters decoded rows by key membership. Metas resolve
        // once per delete file, shared across all burdened targets.
        if (eqFiles.nonEmpty) {
          // burden SCOPING ([[OcfEqScope]]): a delete file whose key
          // values provably miss a data file's manifest-inline min/max
          // bounds is not attached — the seq rule alone would burden the
          // whole pre-commit table per upsert commit
          val eqMetas: Seq[(Long, OcfFileMeta, Option[OcfEqScope.KeySummary])] =
            eqFiles.map { e =>
              val m = deleteMeta(e)
              (e.seq, m, OcfEqScope.summaryFor(m, conf))
            }
          eqDeletesByPath = snapFiles.iterator.flatMap { f =>
            val applicable = eqMetas.collect {
              case (eseq, m, sum) if f.seq < eseq &&
                OcfEqScope.mayBurdenFile(f, base, sum, conf) => m }
            if (applicable.isEmpty) None
            else Some(new Path(base, f.path).toString -> applicable)
          }.toMap
        }
        snapMetaByPath = snapFiles.iterator.flatMap(sf =>
          sf.meta.map(m => new Path(base, sf.path).toString -> m)).toMap
        OcfSnapshots.toFileSlices(fs, root, snapFiles)
      case None => list(conf, paths, glob, userRecursive)
    }
    if (listed.isEmpty && !userRecursive && snapRoot.isEmpty) {
      // a hive-partitioned root has no direct files, only col=value/ dirs —
      // recurse rather than fail, the same default as Spark's file sources
      listed = list(conf, paths, glob, recursive = true)
      recursive = true
    }
    // an EMPTY file list is legal for exactly one shape: an incremental
    // range that added no files, under an explicit readerSchema (the schema
    // can't come from headers there's none of) — "no changes since v" is an
    // empty frame, not an error. Everything else still fails loudly.
    val readerOpt0 = Option(options.get("readerSchema"))
    require(listed.nonEmpty ||
        ((snapStarting.isDefined || snapBranch.isDefined) &&
          readerOpt0.exists(!_.equalsIgnoreCase("auto"))),
      if (snapStarting.isDefined)
        s"graft-ocf: incremental range after version ${snapStarting.get} " +
          s"added no files under ${paths.mkString(", ")} and no explicit " +
          "readerSchema was given to shape an empty result"
      else if (snapBranch.isDefined)
        s"graft-ocf: branch '${snapBranch.get}' holds no files under " +
          s"${paths.mkString(", ")} and no explicit readerSchema was given " +
          "to shape an empty result"
      else s"graft-ocf: no input files under ${paths.mkString(", ")}")
    val qualifiedRoots = paths.map { p =>
      val hp = new Path(p); hp.getFileSystem(conf).makeQualified(hp).toString
    }
    // `transformPartitions` validated up front; its PRESENCE (even empty —
    // a spec evolved back to none) marks an engine-driven read that owns
    // its synthetic levels, which is what licenses union-aligning
    // mixed-era layouts (X100 partition-spec evolution) instead of
    // refusing them. The prune specs themselves come from the observed
    // directory levels below, not this list.
    Option(options.get("transformPartitions")).foreach(OcfTransforms.parseList)
    val transformAware = options.containsKey("transformPartitions")
    // Hash-bucketed layout ([[OcfBucket]]): when the read declares
    // `bucketColumns`/`numBuckets` (always the case through the catalog),
    // the trailing `_bucket=K` (or era-stamped `_bucketN=K`, X103)
    // directory level is the bucket id — folded into the bucket spec, NOT
    // surfaced as a partition column. An option-less path read of the same
    // directory sees the level as an ordinary int partition column instead
    // (honest observability). A declared bucket spec licenses mixed-era
    // union alignment the same way a declared transform spec does.
    val bucketColsOpt: Array[String] = Option(options.get("bucketColumns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty)).getOrElse(Array.empty)
    val numBuckets: Int = Option(options.get("numBuckets")).map(_.toInt).getOrElse(0)
    require(bucketColsOpt.isEmpty == (numBuckets == 0),
      "graft-ocf: bucketColumns and numBuckets must be set together")
    val (inferredCols, files) = OcfPartitions.infer(qualifiedRoots, listed,
      unionSynthetic = transformAware || numBuckets > 0)
    // bucket-count evolution (X103): the bare `_bucket=` level's modulus is
    // the table's GENESIS bucket count (stamped into the descriptor at the
    // first numBuckets ALTER); era-stamped `_bucketN=` levels carry theirs
    // in the name. An unevolved table has no genesis option: bare = current.
    val genesisN: Int = Option(options.get("numBucketsGenesis")).map(_.toInt)
      .getOrElse(numBuckets)
    val bucket: Option[OcfBucket.Spec] =
      if (numBuckets == 0) None
      else {
        val levels = inferredCols.zipWithIndex.filter { case (c, _) =>
          OcfBucket.isLevel(c) }
        require(levels.nonEmpty,
          s"graft-ocf: read declares numBuckets=$numBuckets but the layout " +
            s"has no trailing ${OcfBucket.DirCol}*= directory level " +
            s"(found: ${inferredCols.mkString(", ")})")
        require(levels.map(_._2).min == inferredCols.length - levels.length,
          s"graft-ocf: bucket levels must trail the layout " +
            s"(found: ${inferredCols.mkString(", ")})")
        val eras: Seq[(Int, Int)] = levels.map { case (c, i) =>
          (OcfBucket.levelEra(c).getOrElse(genesisN), i) }
        require(eras.map(_._1).distinct.length == eras.length,
          s"graft-ocf: bucket layout carries two levels of the same " +
            s"modulus (${levels.map(_._1).mkString(", ")} with " +
            s"numBucketsGenesis=$genesisN) — ambiguous routing; compact " +
            "the table to unify its eras")
        files.foreach { f =>
          val present = eras.filter { case (_, i) =>
            i < f.partitionValues.length &&
              f.partitionValues(i) != OcfPartitions.AbsentDir }
          require(present.length == 1,
            s"graft-ocf: ${f.path} must carry exactly one bucket level — " +
              "bucketing itself is not evolvable (bucket ids are layout); " +
              s"found ${present.length} of ${eras.length} era levels")
          val (mod, i) = present.head
          val v = f.partitionValues(i)
          require(v != null && v.toIntOption.exists(b => b >= 0 && b < mod),
            s"graft-ocf: ${f.path} has bucket id '$v' outside [0, $mod)")
        }
        val uniform = eras.length == 1 && eras.head._1 == numBuckets
        Some(OcfBucket.Spec(bucketColsOpt.toSeq, numBuckets,
          if (uniform) eras.head._2 else -1, eras))
      }
    val partCols0 =
      if (bucket.isDefined) inferredCols.filterNot(OcfBucket.isLevel)
      else inferredCols
    // Hidden-transform layout (X88): under a transform-aware read (the
    // `transformPartitions` option is present — always the case through
    // the catalog), every `_p_<kind>_<col>=` level is a transform ordinal
    // — folded into the prune specs, NOT surfaced as a partition column
    // (the SOURCE columns are ordinary data columns). The specs come from
    // the LEVELS THEMSELVES ([[OcfTransforms.specOfDirCol]] — the names
    // are self-describing), not the declared list, so after a spec
    // evolution (X100) files prune through whichever era's transforms
    // their own paths carry; a declared spec no file exhibits yet (just
    // evolved, nothing written) simply prunes nothing. An option-less
    // path read sees the levels as ordinary partition columns instead
    // (honest observability, same convention as `_bucket`).
    val transforms: Seq[(OcfTransforms.Spec, Int)] =
      if (!transformAware || files.isEmpty) Nil
      else partCols0.zipWithIndex.flatMap { case (c, i) =>
        OcfTransforms.specOfDirCol(c).map(s => (s, i))
      }
    val partCols =
      if (transforms.isEmpty) partCols0
      else {
        val tCols = transforms.map { case (s, _) => s.dirCol }.toSet
        // transform levels always trail the identity columns (the writer's
        // directory order, preserved by the union alignment), so dropping
        // them by name keeps identity indices 0..n-1 aligned with every
        // file's partitionValues prefix
        partCols0.filterNot(tCols.contains)
      }
    // header resolution is LAZY (deferred to build, after partition pruning);
    // only what the schema needs is read here
    val readerOpt = readerOpt0
    // manifest metas stand in for header preads wherever present; only the
    // files a metaless manifest (or no manifest) leaves uncovered are read
    def manifestMeta(f: FileSlice): Option[OcfFileMeta] =
      snapMetaByPath.get(f.path).map(_.copy(path = f.path, len = f.len,
        partitionValues = f.partitionValues))
    def metasOf(fls: Seq[FileSlice]): Seq[OcfFileMeta] = {
      val need = fls.filter(f => manifestMeta(f).isEmpty)
      val fetched =
        if (need.isEmpty) Map.empty[String, OcfFileMeta]
        else fetchMetas(conf, need).map(m => m.path -> m).toMap
      fls.map(f => manifestMeta(f).getOrElse(fetched(f.path)))
    }
    var firstMeta: Option[OcfFileMeta] = None
    val (readerJson, prefetched) = readerOpt match {
      // case-insensitive: option KEYS already are, and "AUTO" silently
      // parsing as schema JSON would yield a baffling error
      case Some(v) if v.equalsIgnoreCase("auto") =>
        val metas = metasOf(files)
        metas.map(_.codecName).distinct.foreach(AvroCodecs(_))
        (widestSchema(metas.map(_.writerSchemaJson).distinct), Some(metas))
      case Some(json) => (json, None)
      case None =>
        val m = metasOf(Seq(files.head)).head
        firstMeta = Some(m)
        (m.writerSchemaJson, None)
    }
    val (dataSql, wrap) = sqlShape(readerJson)
    partCols.foreach { pc =>
      require(!dataSql.fieldNames.exists(_.equalsIgnoreCase(pc)),
        s"graft-ocf: partition column '$pc' collides with a data field; " +
          "rename the directory level or the field")
    }
    // bucket columns are DATA columns; canonicalize to the read schema's
    // exact casing so filter-name matching in bucket pruning is reliable
    val bucketSpec: Option[OcfBucket.Spec] = bucket.map { spec =>
      spec.copy(cols = spec.cols.map { c =>
        val f = dataSql.fields.find(_.name == c)
          .orElse(dataSql.fields.find(_.name.equalsIgnoreCase(c)))
          .getOrElse(throw new IllegalArgumentException(
            s"graft-ocf: bucket column '$c' is not in the read schema " +
              s"(${dataSql.fieldNames.mkString(", ")})"))
        require(OcfBucket.supportedType(f.dataType),
          s"graft-ocf: bucket column '$c' has unsupported type " +
            f.dataType.simpleString)
        f.name
      })
    }
    // partition column READ TYPES: a `partitionSchema` DDL declaration wins
    // per column, otherwise int/long/date/string inference over every file's
    // values (string-only under inferPartitionTypes=false) — validated
    // against every value at PLAN time, so a bad directory fails the plan
    val partSchema = OcfPartitions.resolvePartSchema(partCols, files,
      Option(options.get("partitionSchema")),
      options.getBoolean("inferPartitionTypes", true))
    val sql = StructType(dataSql.fields ++ partSchema.fields)
    val splitSize = Option(options.get("splitSize")).map(_.toLong).getOrElse(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")))
    require(splitSize > 0, s"graft-ocf: splitSize must be positive, got $splitSize")
    // streaming admission control (ignored by batch scans): bound how much
    // of the backlog one micro-batch may admit
    val maxFiles = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
    maxFiles.foreach(n => require(n > 0,
      s"graft-ocf: maxFilesPerTrigger must be positive, got $n"))
    val maxBytes = Option(options.get("maxBytesPerTrigger")).map(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
    maxBytes.foreach(n => require(n > 0,
      s"graft-ocf: maxBytesPerTrigger must be positive, got $n"))
    // Opt-in storage-partitioned scan: report the hive layout as Spark's
    // KeyGroupedPartitioning so a group-by/join on the partition columns
    // skips its shuffle (with spark.sql.sources.v2.bucketing.enabled).
    // Opt-in because key grouping folds all splits of one partition value
    // into ONE task — right when the query keys on the layout, wrong for
    // full scans that want split-level parallelism.
    val reportPart = options.getBoolean("reportPartitioning", false)
    val r = Resolved(files, readerJson, dataSql, sql, wrap, conf, splitSize,
      partCols, partSchema, prefetched, paths, glob, recursive, maxFiles,
      maxBytes, reportPartitioning = reportPart, bucket = bucketSpec,
      streamExclude = streamExclude, branchRead = snapBranch.isDefined,
      boundedIncremental = snapStarting.isDefined && snapVersion.isDefined,
      versionPinned = snapVersion.isDefined && snapStarting.isEmpty,
      columnarEnabled = options.getBoolean("columnar", true),
      deletes = deletesByPath,
      eqDeletes = eqDeletesByPath,
      transforms = transforms)
    firstMeta.foreach(m => r.metaCache.put(m.path, m))
    // seed the per-resolve meta memo with every manifest-carried meta:
    // buildScan then preads ONLY the files the manifest left uncovered
    files.foreach(f => manifestMeta(f).foreach(m => r.metaCache.put(m.path, m)))
    r
  }

  /** `readerSchema=auto`: among the directory's DISTINCT writer schemas,
    * pick the one that can read every other (the "widest" — typically the
    * newest after compatible evolution: added-with-default fields, widened
    * types). Every file then resolves against it, so an evolved directory
    * reads as one uniform frame with defaults materialized for old files.
    * No such schema (a fork, an incompatible rewrite) fails the PLAN with
    * the candidates listed — auto never guesses. */
  private[sources] def widestSchema(distinctJsons: Seq[String]): String =
    distinctJsons match {
      case Seq(one) => one
      case many =>
        val parsed = many.map(j => j -> AvroRuntime.parse(j))
        val able = parsed.filter { case (_, cand) =>
          parsed.forall { case (_, w) =>
            Compatibility.check(reader = cand, writer = w).isCompatible }
        }
        if (able.isEmpty) throw new AvroResolutionException(
          s"graft-ocf: readerSchema=auto found no schema able to read all " +
            s"${many.size} distinct writer schemas in this directory; pass an " +
            "explicit readerSchema. Schemas: " + many.mkString(" | "))
        // several schemas may be MUTUALLY readable (old readers skip added
        // fields); prefer the one exposing the most top-level fields — the
        // evolved shape — with listing order as the deterministic tie-break
        able.maxBy { case (_, s) =>
          s.physical match { case r: ARecord => r.fields.size; case _ => 0 }
        }._1
    }

  /** Read each file's OCF header exactly once, driver-side. Headers are tiny
    * positioned reads; the bounded pool hides per-file round-trip latency on
    * remote stores when the listing is large. */
  private[sources] def fetchMetas(conf: Configuration, files: Seq[FileSlice]): Seq[OcfFileMeta] = {
    def metaOf(f: FileSlice): OcfFileMeta = {
      val p = new Path(f.path)
      val in = p.getFileSystem(conf).open(p)
      val (h, end) = try readHeaderAt(in, f.len) finally in.close()
      OcfFileMeta(f.path, f.len, h.schemaJson, h.codecName, h.sync, end,
        f.partitionValues,
        h.meta.get("graft.stats").map(new String(_, "UTF-8")),
        h.meta.get("graft.bloom").map(new String(_, "UTF-8")),
        h.meta.get("graft.blockIndex").map(new String(_, "UTF-8")),
        h.meta.get("graft.sortedBy").map(new String(_, "UTF-8")),
        h.meta.get("graft.rows").flatMap(b => new String(b, "UTF-8").toLongOption))
    }
    if (files.lengthCompare(2) < 0) files.map(metaOf)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(16, files.size))
      try {
        files.map { f =>
          pool.submit(new java.util.concurrent.Callable[OcfFileMeta] {
            override def call(): OcfFileMeta = metaOf(f)
          })
        }.map { fut =>
          try fut.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdown()
    }
  }

  /** A `graft.stats` bound rendered as the column's own Catalyst value (the
    * stamp stores integral as long, floating as double, string as text). */
  private[sources] def statValue(node: com.fasterxml.jackson.databind.JsonNode,
                                 dt: org.apache.spark.sql.types.DataType): Any = dt match {
    case org.apache.spark.sql.types.ByteType    => node.asLong.toByte
    case org.apache.spark.sql.types.ShortType   => node.asLong.toShort
    case org.apache.spark.sql.types.IntegerType => node.asLong.toInt
    case org.apache.spark.sql.types.LongType    => node.asLong
    case org.apache.spark.sql.types.FloatType   => node.asDouble.toFloat
    case org.apache.spark.sql.types.DoubleType  => node.asDouble
    // stamped as the internal backing value (days / micros) — exactly the
    // Catalyst representation a MIN/MAX pushdown answer must carry
    case org.apache.spark.sql.types.DateType    => node.asLong.toInt
    case org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => node.asLong
    case org.apache.spark.sql.types.StringType  =>
      org.apache.spark.unsafe.types.UTF8String.fromString(node.asText)
    case other => throw new IllegalStateException(
      s"graft-ocf: no stats value rendering for ${other.simpleString}")
  }

  private def pathsOf(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).toSeq.flatMap { js =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(js, classOf[Array[String]]).toSeq
    }
    Option(options.get("path")).toSeq ++ multi
  }

  /** A listed ROOT path itself does not exist — a typo or a deleted source
    * directory, not listing churn; surfaced immediately, never retried. */
  private final class RootPathMissing(val underlying: java.io.FileNotFoundException)
    extends RuntimeException(underlying)

  /** List input files. A CONCURRENT writer's temp can vanish between the
    * listing's enumeration and its stat (local FS even shells out for
    * permissions), surfacing as FileNotFound/ExitCode noise mid-iteration —
    * on a live landing directory that's normal operation, not an error, so
    * the listing retries from scratch a few times (with a short pause, so a
    * racing rename has time to land) before giving up. A MISSING ROOT path
    * is a different thing entirely and fails fast. */
  /** [[list]], except a single snapshot-managed root reads its latest
    * manifest instead of walking the directory — used by every re-listing
    * surface (streaming discovery, emptiness probes) so retained
    * time-travel files stay invisible everywhere, not just in resolve(). */
  private[sources] def snapshotAwareList(conf: Configuration, paths: Seq[String],
                   glob: Option[String], recursive: Boolean,
                   failOnDeletes: Boolean = false): Seq[FileSlice] = {
    if (paths.length == 1 && glob.isEmpty) {
      val root = new Path(paths.head)
      val fs = root.getFileSystem(conf)
      if (OcfSnapshots.enabled(fs, root)) {
        val files = OcfSnapshots.latest(fs, root).map(_.files).getOrElse(Nil)
        // streaming discovery must fail LOUDLY when a merge-on-read DELETE
        // lands mid-stream: rows already emitted cannot be retracted, and
        // silently streaming on would misrepresent the table
        if (failOnDeletes) require(files.forall(_.isData),
          s"graft-ocf: streaming read of $root refused — a position- or " +
            "equality-delete file was committed (merge-on-read DELETE/" +
            "upsert); a stream cannot retract already-emitted rows. CALL " +
            "<cat>.system.rewrite_position_deletes to fold the deletes, " +
            "then restart the stream.")
        // data files only: position/equality-delete files attach to reads
        // of their targets, they are never themselves listed as table data
        return OcfSnapshots.toFileSlices(fs, root,
          files.filter(_.isData))
      }
    }
    list(conf, paths, glob, recursive)
  }

  private[sources] def list(conf: Configuration, paths: Seq[String],
                   glob: Option[String], recursive: Boolean): Seq[FileSlice] = {
    def vanished(t: Throwable): Boolean = {
      val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
      chain.exists(_.isInstanceOf[java.io.FileNotFoundException]) ||
        chain.exists(c => c.getMessage != null && c.getMessage.contains("No such file"))
    }
    var attempt = 0
    while (true) {
      try return listOnce(conf, paths, glob, recursive)
      catch {
        case r: RootPathMissing => throw r.underlying
        case t: Throwable if attempt < 3 && vanished(t) =>
          attempt += 1
          Thread.sleep(50L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def listOnce(conf: Configuration, paths: Seq[String],
                       glob: Option[String], recursive: Boolean): Seq[FileSlice] = {
    val filter = glob.map(new GlobFilter(_))
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val rootStatus =
        try fs.getFileStatus(hp)
        catch { case e: java.io.FileNotFoundException => throw new RootPathMissing(e) }
      val statuses: Seq[FileStatus] =
        if (rootStatus.isDirectory) {
          val it = fs.listFiles(hp, recursive)
          val b = Seq.newBuilder[FileStatus]
          while (it.hasNext) b += it.next()
          b.result()
        } else Seq(rootStatus)
      statuses.iterator.filter { st =>
        val name = st.getPath.getName
        st.isFile && !name.startsWith(".") && !name.startsWith("_") &&
          filter.forall(_.accept(st.getPath))
      }.map(st => FileSlice(st.getPath.toString, st.getLen)).toSeq
    }.sortBy(_.path)
  }

  /** Parse an OCF header from a seekable stream without knowing its length
    * up front: read a prefix, retry with a larger one on EOF (headers are a
    * few hundred bytes unless the schema JSON is huge). Returns the header
    * and the offset of the first block. */
  private[graft] def readHeaderAt(in: FSDataInputStream, fileLen: Long): (OcfHeader, Long) = {
    headerReads.incrementAndGet()
    var cap = 64 * 1024
    var out: (OcfHeader, Long) = null
    while (out == null) {
      val n = math.min(cap.toLong, fileLen).toInt
      val buf = new Array[Byte](n)
      in.readFully(0L, buf, 0, n)
      try {
        val r = new AvroBinaryReader(buf, 0, n)
        val h = Ocf.readHeader(r)
        out = (h, r.pos.toLong)
      } catch {
        case e: AvroEofException =>
          if (n >= fileLen) throw new AvroResolutionException(
            s"truncated OCF header (${fileLen} bytes): ${e.getMessage}")
          cap *= 4
      }
    }
    out
  }
}

/** One pushed ungrouped aggregate expression (see
  * [[OcfScanBuilder.pushAggregation]]). */
private[graft] sealed trait OcfAggExpr extends Serializable
private[graft] object OcfAggExpr {
  case object Count extends OcfAggExpr
  final case class MinOf(field: String, dt: org.apache.spark.sql.types.DataType) extends OcfAggExpr
  final case class MaxOf(field: String, dt: org.apache.spark.sql.types.DataType) extends OcfAggExpr
  /** COUNT(col): the header stamp's exact non-null count — a constant. */
  final case class CountOf(field: String) extends OcfAggExpr
  /** SUM(col), integral columns only: the header stamp's exact Long sum — a
    * constant. Partial type is LongType (matching Spark's Sum result type
    * for byte/short/int/long inputs); the sink refuses to stamp a wrapped
    * sum, so an accepted push is always exact. */
  final case class SumOf(field: String) extends OcfAggExpr
}

/** Hadoop `Configuration` is not `java.io.Serializable`; this envelope ships
  * it to executors via its own `write`/`readFields` — MEMOIZED on both sides.
  * A session's ~110 KB Configuration costs 10–40 ms to write and 20–50 ms to
  * parse, and Spark deserializes each stage's task binary PER TASK, so an
  * unmemoized envelope re-parses the full conf once per task — for a
  * commit-heavy DML statement or a many-split scan that parse alone was the
  * dominant scheduling cost. Here the driver serializes each Configuration
  * instance once (weak identity memo) and every task of a JVM shares ONE
  * parsed instance per distinct content hash; the shared instance is
  * READ-ONLY by contract (every consumer only resolves filesystems/opens
  * streams from it — none mutates it). */
final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  @throws[IOException]
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    val bytes = SerializableHadoopConf.bytesFor(value)
    out.writeInt(bytes.length)
    out.write(bytes)
  }
  @throws[IOException]
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    val n = in.readInt()
    val bytes = new Array[Byte](n)
    in.readFully(bytes)
    value = SerializableHadoopConf.confFor(bytes)
  }
}

object SerializableHadoopConf {
  // driver side: serialized form per Configuration INSTANCE (confs are
  // handed to the envelope fully built and never mutated afterwards)
  private val outCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[Configuration, Array[Byte]]())
  private def bytesFor(conf: Configuration): Array[Byte] = {
    val cached = outCache.get(conf)
    if (cached != null) cached
    else {
      val bos = new java.io.ByteArrayOutputStream(1 << 17)
      val dos = new java.io.DataOutputStream(bos)
      conf.write(dos)
      dos.flush()
      val bytes = bos.toByteArray
      outCache.put(conf, bytes)
      bytes
    }
  }
  // executor side: parsed Configuration per CONTENT hash (128-bit MD5 —
  // a collision would silently alias two different confs, so a 32-bit
  // array hash is not enough). Distinct conf contents per JVM are few
  // (one per session configuration), so the map stays tiny.
  private val inCache =
    new java.util.concurrent.ConcurrentHashMap[String, Configuration]()
  private def confFor(bytes: Array[Byte]): Configuration = {
    val h = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("MD5").digest(bytes))
    val cached = inCache.get(h)
    if (cached != null) cached
    else {
      val c = new Configuration(false)
      c.readFields(new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      inCache.putIfAbsent(h, c)
      inCache.get(h)
    }
  }
}

/** `external` is the schema Spark handed to `getTable`: on the read path the
  * just-inferred schema (or a user `.schema(...)`, which must match what the
  * files resolve to); on the write path the query's schema. `resolve` runs
  * the directory listing + header resolution lazily so a pure write never
  * lists (or requires) existing input files. */
private[sources] final class OcfTable(
    external: Option[StructType],
    transforms: Array[Transform],
    partCols: Array[String],
    resolve: () => OcfDataSource.Resolved,
    tableName: String = "graft-ocf",
    writeOptions: Map[String, String] = Map.empty)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = tableName
  override def schema(): StructType = external.getOrElse(resolve().sql)
  /** `_file` / `_pos` metadata columns, each shadowed by any real column of
    * its name. A write-only table (nothing to list yet) advertises none. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    try {
      val names = schema().fieldNames
      (if (names.exists(_.equalsIgnoreCase(OcfDataSource.FileColName))) Nil
       else Seq(OcfDataSource.FileMetadataColumn)) ++
      (if (names.exists(_.equalsIgnoreCase(OcfDataSource.PosColName))) Nil
       else Seq(OcfDataSource.PosMetadataColumn))
    }.toArray catch { case scala.util.control.NonFatal(_) => Array.empty }
  // echo the requested transforms: DataFrameWriter verifies the table's
  // partitioning matches its partitionBy before writing
  override def partitioning(): Array[Transform] = transforms
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    scanBuilderWithHook(None)

  /** Scan builder whose built [[OcfScan]] is handed to `onBuilt` — how a
    * row-level operation learns which files its scan plans (the "groups" a
    * group-based DELETE/UPDATE/MERGE commit replaces). */
  private[sources] def scanBuilderWithHook(onBuilt: Option[OcfScan => Unit]): ScanBuilder = {
    val r = resolve()
    external.foreach { ext =>
      // nullability-insensitive: a nullable-declared column over files whose
      // writer schema is non-null (or vice versa) reads fine — names, types
      // and order must agree
      require(org.apache.spark.sql.graft.Shims.sameType(ext, r.sql),
        "graft-ocf: a user-specified read schema must match the resolved file schema " +
          s"(got ${ext.simpleString}, resolved ${r.sql.simpleString}); " +
          "use the 'readerSchema' option (Avro JSON) to project/resolve instead")
    }
    new OcfScanBuilder(r, onBuilt)
  }
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder =
    new OcfWriteBuilder(info, partCols, writeOptions)
}

private[sources] final class OcfScanBuilder(
    resolved: OcfDataSource.Resolved,
    onBuilt: Option[OcfScan => Unit] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with SupportsPushDownFilters
    with SupportsPushDownAggregates {
  private var required: Option[StructType] = None
  private var wantFile = false
  private var wantPos = false
  private var limit: Option[Int] = None
  private var topNCols: Seq[String] = Nil
  private var countStar = false
  private var aggExprs: Option[Seq[OcfAggExpr]] = None
  private var aggGroupCols: Array[String] = Array.empty
  private var statsByPath: Map[String, Map[String, OcfPartitions.ColStat]] = Map.empty
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  /** Read type of a partition column (None = not a partition column) — the
    * lookup [[OcfPartitions.exactOnPartitions]] gates consumed filters on,
    * so a filter is only consumed when its value is comparable under the
    * column's actual type (an int-vs-string mismatch stays residual). */
  private def partType(name: String): Option[org.apache.spark.sql.types.DataType] =
    resolved.partSchema.fields.find(_.name == name).map(_.dataType)

  /** Filters are accepted for DRIVER-SIDE file elimination — exact
    * partition-value pruning (before any header read) and header-stats /
    * bloom / block-index skipping. Filters whose every attribute is a
    * partition column (and whose shape the partition evaluation decides
    * definitively) are CONSUMED — not returned residual — because a file
    * has exactly one partition tuple, so file-granular pruning IS row-exact
    * for them; consuming them lets Spark drop the post-scan Filter and,
    * crucially, attempt aggregate pushdown (`WHERE date = X` + grouped
    * COUNT/MIN/MAX stays header-only). Everything else stays residual:
    * stats/bloom/block skipping is conservative (a surviving file still
    * holds non-matching rows), so Spark must re-apply those predicates. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters
    filters.filterNot(f => OcfPartitions.exactOnPartitions(f, partType))
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  /** `_file` in the required schema is the METADATA column (the row's
    * source-file path) unless a real data/partition column shadows it —
    * strip it here and emit it reader-side as a per-split constant. */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    wantFile = requiredSchema.fieldNames.contains(OcfDataSource.FileColName) &&
      !resolved.dataSql.fieldNames.contains(OcfDataSource.FileColName) &&
      !resolved.partCols.contains(OcfDataSource.FileColName)
    // `_pos` (row ordinal in its file) mirrors `_file`, but is emitted
    // per-row by the reader; requesting it forces unsplit file plans
    wantPos = requiredSchema.fieldNames.contains(OcfDataSource.PosColName) &&
      !resolved.dataSql.fieldNames.contains(OcfDataSource.PosColName) &&
      !resolved.partCols.contains(OcfDataSource.PosColName)
    required = Some(
      if (wantFile || wantPos)
        StructType(requiredSchema.fields.filterNot(f =>
          (wantFile && f.name == OcfDataSource.FileColName) ||
            (wantPos && f.name == OcfDataSource.PosColName)))
      else requiredSchema)
    // equality deletes (X94) filter rows BY KEY inside the reader, so the
    // key columns must survive pruning even when the query projects them
    // away — the scan reports the (slightly) wider readSchema and Spark's
    // project above selects what the query asked for
    if (resolved.eqDeletes.nonEmpty) {
      required = required.map { req =>
        val have = req.fieldNames.toSet
        val missing = resolved.dataSql.fields.filter(f =>
          resolved.eqKeyCols.contains(f.name) && !have.contains(f.name))
        if (missing.isEmpty) req else StructType(req.fields ++ missing)
      }
    }
  }

  /** PARTIAL limit pushdown (`isPartiallyPushed` stays true, Spark keeps the
    * global limit): each split stops decoding after `l` rows, so
    * `df.limit(10)` over a 10 GB OCF decodes ≤10 rows per task instead of
    * every block in every split. */
  override def pushLimit(l: Int): Boolean = {
    limit = Some(l)
    true
  }

  /** PARTIAL top-k pushdown over SORT-STAMPED files (`isPartiallyPushed`
    * stays true — Spark keeps the global sort + limit): accepted when the
    * requested ordering is ascending-nulls-first on a PREFIX of every
    * candidate file's verified `graft.sortedBy` stamp (the order the sink's
    * `sortColumns` wrote and its tracker certified row-by-row). Each split
    * of a sorted file is itself sorted, so its first `k` rows are a
    * superset of its contribution to the global top-k — the reader reuses
    * the limit cap and decodes ≤ k rows per split. `ORDER BY ts LIMIT 100`
    * over 100 TB of time-sorted landings decodes ~100 rows per split
    * instead of the corpus. Sound with consumed partition filters (they are
    * row-exact, so every decoded row qualifies); any other filter shape
    * refuses the push. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    if (limit.nonEmpty || countStar || aggExprs.nonEmpty || orders.isEmpty) return false
    if (pushed.exists(f => !OcfPartitions.exactOnPartitions(f, partType)))
      return false
    val names: Array[String] = orders.map { o =>
      if (o.direction != SortDirection.ASCENDING ||
          o.nullOrdering != NullOrdering.NULLS_FIRST) null
      else o.expression match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference
            if r.fieldNames.length == 1 =>
          resolved.dataSql.fields.filter(_.name.equalsIgnoreCase(r.fieldNames()(0))) match {
            case Array(f) => f.name
            case _ => null
          }
        case _ => null
      }
    }
    if (names.exists(_ == null)) return false
    // every file the pruned scan will read must certify the requested
    // ordering as a prefix of its stamp; one uncertified file refuses
    val ok = candidateMetas().forall(m => m.sortedByJson.exists(js =>
      OcfPartitions.parseSortedBy(js).exists(_.startsWith(names.toSeq))))
    if (!ok) return false
    limit = Some(l)
    topNCols = names.toSeq
    true
  }
  override def isPartiallyPushed(): Boolean = true

  /** PARTIAL aggregate pushdown for `COUNT(*)` / `MIN(col)` / `MAX(col)` /
    * `COUNT(col)` / `SUM(col)` (integral)
    * mixes, ungrouped or GROUPED BY partition columns
    * (`supportCompletePushDown` stays false — Spark re-aggregates the
    * per-split partials, summing counts and re-min/max-ing bounds):
    *
    *  - `COUNT(*)` becomes a block-HEADER walk — each split sums the
    *    row-count varints of its blocks; block bodies are never read,
    *    decompressed, or decoded (the count rides the OCF block framing,
    *    reference python-udf/avro/datafile.py block layout). At 100 TB this
    *    reads ~40 bytes per 64 KB block — 0.1% of the data, zero codec work.
    *  - `MIN`/`MAX` are answered from the `graft.stats` header stamps the
    *    sink wrote (`statsColumns`): accepted ONLY when every file carries
    *    bounds for every referenced column (or is all-null), in which case
    *    the answer needs NO data read at all — min/max-only aggregations
    *    never open a file body. Tracker bounds are exact (it sees every
    *    row), so this is exact pushdown, not an approximation.
    *  - `COUNT(col)` / `SUM(col)` are likewise header constants: the stamp
    *    carries the exact non-null count (`nn`) and, for integral columns
    *    whose sum never wrapped a Long, the exact sum. SUM over float/double
    *    is never pushed (accumulation order would make the constant diverge
    *    from a row-order recompute); stamps predating `nn`/`sum` refuse the
    *    push. A stats-only aggregation — any COUNT(col)/SUM/MIN/MAX mix
    *    without COUNT(*) — therefore reads NOTHING but file headers.
    *
    * GROUP BY is accepted when every grouping expression is a partition
    * column: a file belongs to exactly one partition tuple, so its partial
    * (block-walk count / header bounds) is already per-group — the group
    * values ride the row as path-derived constants. `SELECT date, count(*)
    * GROUP BY date` over 100 TB reads block headers only; a min/max-only
    * grouped profile reads NOTHING but file headers. */
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min, Sum}
    // consumed (partition-exact) filters compose with aggregate pushdown:
    // build() prunes to exactly the matching files, whose partials are then
    // exact for the filtered query. Spark only attempts the push when no
    // residual filters remain, so `pushed` here is normally all-consumed —
    // the guard is defensive.
    // position (X87) and equality (X94) deletes remove rows the header
    // stamps still count: every header-constant answer (block-walk COUNT,
    // stamp MIN/MAX/SUM) would include deleted rows — no aggregate pushdown
    // while any delete file is attached (rewrite_position_deletes restores it)
    if (resolved.deletes.nonEmpty || resolved.eqDeletes.nonEmpty) return false
    if (limit.nonEmpty || wantFile || wantPos ||
        pushed.exists(f => !OcfPartitions.exactOnPartitions(f, partType)) ||
        agg.aggregateExpressions.isEmpty) return false
    val gCols: Array[String] = agg.groupByExpressions.map {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames.length == 1 =>
        resolved.partCols.find(_.equalsIgnoreCase(r.fieldNames()(0))).orNull
      case _ => null
    }
    if (gCols.exists(_ == null)) return false
    // resolves top-level AND nested references (MIN(info.score)): the
    // canonical dotted name matches the header stamp's key, so nested
    // aggregates answer from nested leaf stats exactly like top-level ones
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[(String, org.apache.spark.sql.types.DataType)] = e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames.nonEmpty =>
        var st: org.apache.spark.sql.types.DataType = resolved.dataSql
        val canonical = Seq.newBuilder[String]
        r.fieldNames.foreach { n =>
          st match {
            case s: StructType => s.fields.filter(_.name.equalsIgnoreCase(n)) match {
              case Array(f) => canonical += f.name; st = f.dataType
              case _ => return None
            }
            case _ => return None
          }
        }
        st match {
          case _: StructType => None // must end at a leaf
          case leaf => Some((canonical.result().mkString("."), leaf))
        }
      case _ => None
    }
    def integral(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val parsed = agg.aggregateExpressions.map {
      case _: CountStar => Some(OcfAggExpr.Count)
      case m: Min => fieldOf(m.column).map { case (n, dt) => OcfAggExpr.MinOf(n, dt) }
      case m: Max => fieldOf(m.column).map { case (n, dt) => OcfAggExpr.MaxOf(n, dt) }
      case c: Count if !c.isDistinct =>
        fieldOf(c.column).map { case (n, _) => OcfAggExpr.CountOf(n) }
      // SUM only over integral columns: the stamp is an exact Long; a
      // floating sum is accumulation-order-dependent, so a header constant
      // could differ from what a row-order scan computes
      case s: Sum if !s.isDistinct =>
        fieldOf(s.column).collect { case (n, dt) if integral(dt) => OcfAggExpr.SumOf(n) }
      case _ => None
    }
    if (parsed.exists(_.isEmpty)) return false
    val exprs = parsed.flatten.toSeq
    // per-field requirement a file's stamp must meet for the push to stay
    // exact; any shortfall (old stamp, missing column, overflowed sum)
    // refuses the whole aggregation — never a partially-trusted answer
    val statNeeds: Seq[(String, OcfPartitions.ColStat => Boolean)] = exprs.collect {
      case OcfAggExpr.MinOf(f, _) =>
        f -> ((st: OcfPartitions.ColStat) =>
          st.allNull || (st.min.isDefined && st.max.isDefined))
      case OcfAggExpr.MaxOf(f, _) =>
        f -> ((st: OcfPartitions.ColStat) =>
          st.allNull || (st.min.isDefined && st.max.isDefined))
      case OcfAggExpr.CountOf(f) =>
        f -> ((st: OcfPartitions.ColStat) => st.nonNull.isDefined)
      case OcfAggExpr.SumOf(f) =>
        f -> ((st: OcfPartitions.ColStat) =>
          st.sum.isDefined || st.nonNull.contains(0L))
    }
    if (statNeeds.nonEmpty) {
      // every file the (consumed-filter-pruned) scan will read must answer
      // from its header or the pushdown is off — pruned files need neither
      // stats nor a header fetch. Fetches are memoized (build() pays
      // nothing extra); parsed stats are kept for build()'s resolution.
      val parsedByPath = candidateMetas().map(m =>
        m.path -> m.statsJson.map(OcfPartitions.parseStats)).toMap
      val ok = parsedByPath.valuesIterator.forall(_.exists(stats =>
        statNeeds.forall { case (f, need) => stats.get(f).exists(need) }))
      if (!ok) return false
      statsByPath = parsedByPath.collect { case (p, Some(s)) => p -> s }
    }
    aggExprs = Some(exprs)
    aggGroupCols = gCols
    countStar = gCols.isEmpty && exprs == Seq(OcfAggExpr.Count)
    true
  }

  /** One file's typed partition value for pruning: the raw directory string
    * paired with the column's resolved read type. */
  private def partValOf(vals: Array[String])(name: String): Option[OcfPartitions.PartVal] = {
    val i = resolved.partCols.indexOf(name)
    if (i >= 0 && i < vals.length)
      Some(OcfPartitions.PartVal(vals(i), resolved.partSchema.fields(i).dataType))
    else None
  }

  /** Headers of the files surviving partition pruning on the pushed
    * filters, memoized into the resolve's meta cache. */
  private def candidateMetas(): Seq[OcfDataSource.OcfFileMeta] = {
    val kept = resolved.files.filter(f => OcfPartitions.mayMatch(pushed.toSeq,
      partValOf(f.partitionValues), _ => None))
    resolved.prefetched match {
      case Some(ms) =>
        val keep = kept.map(_.path).toSet
        ms.filter(m => keep(m.path))
      case None =>
        val missing = kept.filterNot(f => resolved.metaCache.containsKey(f.path))
        if (missing.nonEmpty)
          OcfDataSource.fetchMetas(resolved.conf, missing)
            .foreach(m => resolved.metaCache.put(m.path, m))
        kept.map(f => resolved.metaCache.get(f.path))
    }
  }

  override def build(): Scan = {
    val s = buildScan()
    onBuilt.foreach(_(s))
    s
  }

  private def buildScan(): OcfScan = {
    val partIdx: Map[String, Int] = resolved.partCols.zipWithIndex.toMap
    // bucket-prune: equality predicates pinning every bucket column admit a
    // computable set of bucket ids — files in other buckets drop here, with
    // the partition prune, before any header I/O. Exactness does NOT depend
    // on this (the predicate still runs post-scan as a residual filter), so
    // the conservative None from [[OcfBucket.admittedIds]] just keeps all.
    val bucketKeep: OcfDataSource.FileSlice => Boolean = resolved.bucket match {
      case Some(spec) =>
        val dts = spec.cols.map(c =>
          resolved.dataSql.fields(resolved.dataSql.fieldIndex(c)).dataType)
        // per ERA (X103): each level's admitted ids under its own modulus;
        // a file is judged by the one level its own path carries
        val byEra: Seq[(Int, Option[Set[Int]])] = spec.eras.map { case (mod, idx) =>
          idx -> OcfBucket.admittedIds(pushed.toSeq, spec.cols, dts, mod) }
        if (byEra.forall(_._2.isEmpty)) _ => true
        else f => byEra.forall { case (idx, admitted) =>
          admitted.forall { ids =>
            idx >= f.partitionValues.length ||
              f.partitionValues(idx) == OcfPartitions.AbsentDir ||
              Option(f.partitionValues(idx))
                .flatMap(_.toIntOption).exists(ids.contains)
          }
        }
      case None => _ => true
    }
    // hidden-transform prune (X88): predicates on the RAW source column
    // (`WHERE ts >= X`) refute whole `_p_days_ts=`-style directories via
    // the transforms' monotonicity — before any header I/O
    val transformKeep: OcfDataSource.FileSlice => Boolean = {
      if (resolved.transforms.isEmpty || pushed.isEmpty) _ => true
      else {
        val specs = resolved.transforms.flatMap { case (spec, idx) =>
          resolved.dataSql.fields.find(_.name.equalsIgnoreCase(spec.col))
            .map(fld => (spec.copy(col = fld.name), idx, fld.dataType))
        }
        f => specs.forall { case (spec, idx, dt) =>
          if (idx >= f.partitionValues.length) true
          else {
            val dv = f.partitionValues(idx)
            // a file from another spec era (X100) carries no such level —
            // it says nothing about the rows, always admit (distinct from
            // dv == null, which means the rows' source value IS null and
            // prunes exactly)
            if (dv == OcfPartitions.AbsentDir) true
            else {
              val parsed: Either[Unit, Any] =
                if (dv == null) Right(null)
                else try Right(OcfTransforms.parseOrdinal(spec, dv,
                  dt == org.apache.spark.sql.types.StringType))
                catch { case scala.util.control.NonFatal(_) => Left(()) }
              // unparsable dir value: admit (pruning must never guess)
              parsed.fold(_ => true,
                ord => OcfTransforms.mayMatch(spec, dt, ord, pushed.toSeq))
            }
          }
        }
      }
    }
    // 1. partition-prune on path values — NO header I/O for pruned files
    val kept = resolved.files.filter(f => bucketKeep(f) && transformKeep(f) &&
      OcfPartitions.mayMatch(pushed.toSeq, partValOf(f.partitionValues), _ => None))
    // 2. headers for the survivors only (auto mode already fetched all);
    // memoized per resolve so repeated builds/actions don't re-read
    val metas0 = resolved.prefetched match {
      case Some(ms) =>
        val keepSet = kept.map(_.path).toSet
        ms.filter(m => keepSet(m.path))
      case None =>
        val missing = kept.filterNot(f => resolved.metaCache.containsKey(f.path))
        if (missing.nonEmpty)
          OcfDataSource.fetchMetas(resolved.conf, missing)
            .foreach(m => resolved.metaCache.put(m.path, m))
        kept.map(f => resolved.metaCache.get(f.path))
    }
    // fail fast on a codec no executor could decode
    metas0.map(_.codecName).distinct.foreach(AvroCodecs(_))
    // 3. stats-skip on header-stamped min/max, then bloom-skip on exact-
    // match predicates — both header-only, no data read. The bloom parse
    // (base64 + JSON, potentially MBs across a wide listing) only runs
    // when the pushed set contains a shape a bloom can answer.
    val bloomUseful = OcfBloom.anyEqualityShape(pushed.toSeq)
    val statsKept =
      if (pushed.isEmpty) metas0
      else metas0.filter(m => m.statsJson.forall { js =>
        OcfPartitions.mayMatch(pushed.toSeq, partValOf(m.partitionValues),
          OcfPartitions.parseStats(js).get)
      })
    // manifest metas omit bloom stamps; when the pushed shapes can use one
    // and the manifest flags a header bloom, pread those headers now — only
    // for the files that survived partition + (manifest-inline) stats
    // pruning, so a point lookup pays preads for its candidates alone
    val metas1 =
      if (!bloomUseful) statsKept
      else {
        val need = statsKept.filter(m => m.bloomInHeader && m.bloomJson.isEmpty)
        if (need.isEmpty) statsKept
        else {
          val fetched = OcfDataSource.fetchMetas(resolved.conf,
            need.map(m => OcfDataSource.FileSlice(m.path, m.len, m.partitionValues)))
            .map(m => m.path -> m).toMap
          fetched.values.foreach(m => resolved.metaCache.put(m.path, m))
          statsKept.map(m => fetched.getOrElse(m.path, m))
        }
      }
    val metas =
      if (!bloomUseful) metas1
      else metas1.filter(m => m.bloomJson.forall { js =>
        OcfBloom.mayMatch(pushed.toSeq, OcfBloom.parse(js).get)
      })
    OcfDataSource.lastPlannedFiles.set(metas.map(_.path))
    // partition columns the query still needs, in layout order
    val reqPartCols = required match {
      case Some(req) =>
        resolved.partCols.filter(pc => req.fieldNames.exists(_.equalsIgnoreCase(pc)))
      case None => resolved.partCols
    }
    val reqPartIdx = reqPartCols.map(pc => partIdx(pc)).toArray
    val reqPartTypes = reqPartIdx.map(i => resolved.partSchema.fields(i).dataType).toSeq
    if (countStar)
      return OcfScan(metas, resolved.readerJson, resolved.dataSql,
        resolved.wrap, new SerializableHadoopConf(resolved.conf),
        resolved.splitSize, resolved.paths, resolved.glob, resolved.recursive,
        countStar = true)
    aggExprs match {
      case Some(exprs) =>
        // min/max (possibly mixed with count): resolve each file's answer
        // from its header stamp at PLAN time; readers emit constants (plus
        // the block-walk count partial when asked). A grouped pushdown
        // prepends the file's partition-tuple values — path-derived
        // constants, so the partial row is already per-group.
        val groupIdx: Array[Int] = aggGroupCols.map(partIdx)
        val aggValues: Seq[Array[Any]] = metas.map { m =>
          lazy val stats = statsByPath.getOrElse(m.path,
            OcfPartitions.parseStats(m.statsJson.get))
          val groupVals: Array[Any] = groupIdx.map(gi =>
            OcfSplitReader.partitionValue(m, gi, resolved.partSchema.fields(gi).dataType))
          groupVals ++ exprs.map {
            case OcfAggExpr.Count => null
            case OcfAggExpr.MinOf(f, dt) =>
              val st = stats(f)
              if (st.allNull) null else OcfDataSource.statValue(st.min.get, dt)
            case OcfAggExpr.MaxOf(f, dt) =>
              val st = stats(f)
              if (st.allNull) null else OcfDataSource.statValue(st.max.get, dt)
            case OcfAggExpr.CountOf(f) => java.lang.Long.valueOf(stats(f).nonNull.get)
            case OcfAggExpr.SumOf(f) =>
              val st = stats(f)
              // SUM ignores nulls: a file with no non-null values
              // contributes a null partial, which Spark's final Sum skips
              if (st.nonNull.contains(0L)) null else java.lang.Long.valueOf(st.sum.get)
          }.toArray[Any]
        }
        return OcfScan(metas, resolved.readerJson, resolved.dataSql,
          resolved.wrap, new SerializableHadoopConf(resolved.conf),
          resolved.splitSize, resolved.paths, resolved.glob, resolved.recursive,
          aggExprs = exprs, aggValues = aggValues,
          aggGroupCols = aggGroupCols.toSeq,
          aggGroupTypes = groupIdx.map(i => resolved.partSchema.fields(i).dataType).toSeq)
      case None => ()
    }
    // Rebuild the reader schema to exactly the pushed-down shape — at ANY
    // depth, not just top level: `select(col("a.b"))` over a wide nested OCF
    // must decode only `a.b` and type-directed-skip the rest of `a`'s
    // subtree (reference python-udf/avro/io.py:793-822,990-1039). A field
    // that fails to match (PruneMismatch) falls back to the unpruned schema:
    // decode everything, Spark projects on top — never a vanished column.
    // Partition columns never reach the decoder: only the DATA slice of the
    // required schema drives the prune.
    val requiredData = required.map(req => StructType(req.fields.filterNot(
      f => resolved.partCols.exists(_.equalsIgnoreCase(f.name)))))
    // an EMPTY requiredData (query touches only partition columns, e.g.
    // groupBy(lang).count()) prunes to a zero-field record: every writer
    // field wire-skips and each datum emits an empty row the partition
    // values join onto — no data column is ever decoded
    val (readerJson, dataSql, wrap) =
      (AvroRuntime.parse(resolved.readerJson).physical, requiredData) match {
        case (rec: ARecord, Some(req)) =>
          try {
            val pruned = OcfDataSource.pruneAvro(rec, req)
            if (pruned == rec) (resolved.readerJson, resolved.dataSql, resolved.wrap)
            else {
              val js = AvroSchemaParser.toJson(pruned)
              val (sql, wrap) = OcfDataSource.sqlShape(js)
              (js, sql, wrap)
            }
          } catch {
            case _: OcfDataSource.PruneMismatch =>
              (resolved.readerJson, resolved.dataSql, resolved.wrap)
          }
        case _ => (resolved.readerJson, resolved.dataSql, resolved.wrap)
      }
    OcfDataSource.lastBuiltReaderJson.set(readerJson)
    OcfScan(metas, readerJson, dataSql, wrap,
      new SerializableHadoopConf(resolved.conf), resolved.splitSize,
      resolved.paths, resolved.glob, resolved.recursive,
      limit = limit.map(_.toLong).getOrElse(Long.MaxValue),
      topNCols = topNCols,
      maxFilesPerTrigger = resolved.maxFilesPerTrigger,
      maxBytesPerTrigger = resolved.maxBytesPerTrigger,
      partCols = reqPartCols, partIdx = reqPartIdx, partTypes = reqPartTypes,
      pushedFilters = pushed.toSeq,
      reportPartitioning = resolved.reportPartitioning,
      withFilePath = wantFile,
      withPos = wantPos,
      deletes = resolved.deletes,
      eqDeletes = resolved.eqDeletes,
      bucketCols = resolved.bucket.map(_.cols).getOrElse(Nil),
      bucketColTypes = resolved.bucket.map(_.cols.map(c =>
        resolved.dataSql.fields(resolved.dataSql.fieldIndex(c)).dataType)).getOrElse(Nil),
      // X103: storage-partitioned (key-grouped) semantics only under a
      // UNIFORM current-era layout — mixed eras are not grouped by one
      // bucket function; per-era pruning rides bucketEras regardless
      bucketN = resolved.bucket.filter(_.uniform).map(_.numBuckets).getOrElse(0),
      bucketValueIdx = resolved.bucket.filter(_.uniform).map(_.valueIdx).getOrElse(-1),
      bucketEras = resolved.bucket.map(_.eras).getOrElse(Nil),
      excludePaths = resolved.streamExclude,
      branchRead = resolved.branchRead,
      boundedIncremental = resolved.boundedIncremental,
      versionPinned = resolved.versionPinned,
      columnarEnabled = resolved.columnarEnabled)
  }
}

/** One split: an index into the reader factory's file table plus a byte
  * range. The per-file header resolution (writer schema JSON, codec, sync,
  * first-block offset) lives ONCE in [[OcfReaderFactory]] — which rides the
  * stage's broadcast task binary, serialized once per stage — so a thousand
  * 64 KB splits of a file with a 100 KB avsc ship O(1) bytes each instead of
  * ~100 KB each (~16 GB of task metadata at 10 GB/64 KB splits). A task
  * reads either one split or an [[OcfPackedPartition]]: a list of small
  * splits the planner bin-packed together. */
private[graft] sealed trait OcfSplit extends InputPartition {
  def fileIndex: Int; def start: Long; def end: Long
  /** True when `start`/`end` are EXACT block boundaries from the file's
    * block index: the reader anchors at `start` directly (no sync scan) and
    * stops at `end` exactly (no trailing-sync grace). */
  def aligned: Boolean
}

private[graft] final case class OcfInputPartition(
    fileIndex: Int, start: Long, end: Long,
    aligned: Boolean = false) extends OcfSplit

/** A split that also carries its file's hive partition-key values, letting
  * Spark group splits by key (storage-partitioned scan) when the source
  * reports its layout via `reportPartitioning`. */
private[graft] final case class OcfKeyedInputPartition(
    fileIndex: Int, start: Long, end: Long, key: InternalRow,
    aligned: Boolean = false)
    extends OcfSplit with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Several small splits read by ONE task, one after another (Spark's
  * `FilePartition` for this source): a table landed by many small appends
  * would otherwise schedule a task per file and spend its time on task
  * set-up rather than decode. Planned by [[OcfScan.pack]]; every reader
  * factory opens it through [[OcfChainedReader]]. */
private[graft] final case class OcfPackedPartition(splits: Array[OcfSplit])
    extends InputPartition

private[graft] object OcfPackedPartition {
  /** Every split of a planned scan, packed or not, in plan order. */
  def splitsOf(parts: Array[InputPartition]): Seq[OcfSplit] =
    parts.toSeq.flatMap {
      case p: OcfPackedPartition => p.splits.toSeq
      case s: OcfSplit => Seq(s)
    }
}

/** Reads an [[OcfPackedPartition]]: opens the per-split readers one after
  * another, closing each when it runs dry, and reports the task's custom
  * metrics as the sum over every split read so far. */
private[sources] final class OcfChainedReader[T](
    splits: Array[OcfSplit], open: OcfSplit => PartitionReader[T])
    extends PartitionReader[T] {
  private var nextSplit = 0
  private var cur: PartitionReader[T] = _
  // metric totals of the splits already closed
  private val closed = scala.collection.mutable.LinkedHashMap.empty[String, Long]

  private def add(into: scala.collection.mutable.Map[String, Long],
                  ms: Array[org.apache.spark.sql.connector.metric.CustomTaskMetric]): Unit =
    ms.foreach(m => into(m.name) = into.getOrElse(m.name, 0L) + m.value)

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (nextSplit >= splits.length) return false
        cur = open(splits(nextSplit))
        nextSplit += 1
      }
      if (cur.next()) return true
      add(closed, cur.currentMetricsValues())
      val done = cur
      cur = null
      done.close()
    }
    false // unreachable
  }

  override def get(): T = cur.get()

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val sum = closed.clone()
    if (cur != null) add(sum, cur.currentMetricsValues())
    sum.iterator.map { case (n, v) =>
      OcfScanTaskMetric(n, v): org.apache.spark.sql.connector.metric.CustomTaskMetric
    }.toArray
  }

  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

private[sources] object OcfChainedReader {
  /** The reader for one planned partition: a packed partition chains its
    * splits, a single split opens directly. */
  def open[T](partition: InputPartition)(split: OcfSplit => PartitionReader[T]): PartitionReader[T] =
    partition match {
      case p: OcfPackedPartition => new OcfChainedReader(p.splits, split)
      case s: OcfSplit => split(s)
    }
}

/** Custom V2 metrics: per-split counters summed onto the scan node in the
  * Spark UI. `ocfBytesRead` is the bytes actually fetched (block headers +
  * bodies + sync scans) — for a pushed-down `COUNT(*)` it shows the
  * header-walk reading ~0.1% of the file, which is the whole point.
  * `ocfSplitsRead` counts the splits opened, so splits per task is
  * `ocfSplitsRead` over the stage's task count. */
private[sources] object OcfScanMetrics {
  final class BlocksRead extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "ocfBlocksRead"
    override def description(): String = "OCF blocks visited"
  }
  final class BytesRead extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "ocfBytesRead"
    override def description(): String = "OCF bytes fetched"
  }
  final class SplitsRead extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "ocfSplitsRead"
    override def description(): String = "OCF splits read"
  }
  def all: Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new BlocksRead, new BytesRead, new SplitsRead)

  /** One split reader's task metrics: its block and byte counters, and the
    * one split it reads. */
  def ofSplit(blocks: Long, bytes: Long): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(OcfScanTaskMetric("ocfBlocksRead", blocks),
      OcfScanTaskMetric("ocfBytesRead", bytes),
      OcfScanTaskMetric("ocfSplitsRead", 1L))
}

private[sources] final case class OcfScanTaskMetric(name: String, value: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric

private[graft] final case class OcfScan(
    files: Seq[OcfDataSource.OcfFileMeta], readerJson: String, sql: StructType,
    wrap: Boolean, conf: SerializableHadoopConf, splitSize: Long,
    paths: Seq[String] = Nil, glob: Option[String] = None,
    recursive: Boolean = false, limit: Long = Long.MaxValue,
    topNCols: Seq[String] = Nil,
    countStar: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    partCols: Seq[String] = Nil, partIdx: Array[Int] = Array.empty,
    partTypes: Seq[org.apache.spark.sql.types.DataType] = Nil,
    aggExprs: Seq[OcfAggExpr] = Nil, aggValues: Seq[Array[Any]] = Nil,
    aggGroupCols: Seq[String] = Nil,
    aggGroupTypes: Seq[org.apache.spark.sql.types.DataType] = Nil,
    pushedFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    reportPartitioning: Boolean = false,
    withFilePath: Boolean = false,
    bucketCols: Seq[String] = Nil,
    bucketColTypes: Seq[org.apache.spark.sql.types.DataType] = Nil,
    bucketN: Int = 0,
    bucketValueIdx: Int = -1,
    // every bucket era in the layout as (modulus, level valueIdx) — X103;
    // nonEmpty iff the read is bucketed, even when bucketN is withheld
    bucketEras: Seq[(Int, Int)] = Nil,
    // incremental streaming: paths the micro-batch discovery never admits
    excludePaths: Set[String] = Set.empty,
    // branch read (X83): file set pinned to a branch head — batch-only
    // (streaming discovery follows MAIN's manifest and would silently
    // stream the wrong lineage)
    branchRead: Boolean = false,
    // startingVersion + endingVersion: batch-only (a stream has no end)
    boundedIncremental: Boolean = false,
    // VERSION/TIMESTAMP AS OF or tag pin: batch-only
    versionPinned: Boolean = false,
    // vectorized flat-scan lane (X91) opt-out (option columnar=false)
    columnarEnabled: Boolean = true,
    // `_pos` metadata column requested: emit each row's file ordinal and
    // plan files unsplit (a mid-file split can't know its first ordinal)
    withPos: Boolean = false,
    // position deletes (X87): qualified data path -> delete-file metas;
    // mapped files read unsplit with those ordinals skipped
    deletes: Map[String, Seq[OcfDataSource.OcfFileMeta]] = Map.empty,
    // equality deletes (X94): qualified data path -> metas of the
    // equality-delete files born after it; mapped files read with a
    // key-membership row filter (splits still allowed)
    eqDeletes: Map[String, Seq[OcfDataSource.OcfFileMeta]] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  /** STORAGE-PARTITIONED scan (opt-in): the hive directory layout IS a
    * partitioning, and reporting it as [[KeyGroupedPartitioning]] lets
    * Spark's `EnsureRequirements` satisfy a ClusteredDistribution on the
    * partition columns straight from the scan — `groupBy(partCol)` and
    * same-layout joins run SHUFFLE-FREE. At 100 TB the saved exchange is
    * the whole cost of such a query: the data is already grouped on disk,
    * re-hashing it across the cluster moves every byte once for nothing.
    * Requires `spark.sql.sources.v2.bucketing.enabled`; splits carry their
    * key ([[OcfKeyedInputPartition]]) and Spark groups them per value. */
  /** True when this scan reports key-grouped splits: the identity-partition
    * case needs the partition columns surviving into the output; the
    * bucketed case needs no columns at all — the key is the bucket id, a
    * property of the FILE. Both compose: keys = identities ++ bucket. */
  private def keyGrouped: Boolean =
    reportPartitioning && !countStar && aggExprs.isEmpty &&
      ((partCols.nonEmpty && partIdx.nonEmpty) || bucketN > 0)

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (keyGrouped) {
      val distinctKeys = files.iterator
        .map(m => partIdx.toSeq.map(i =>
          if (i < m.partitionValues.length) m.partitionValues(i) else null) ++
          (if (bucketN > 0) Seq(m.partitionValues(bucketValueIdx)) else Nil))
        .toSet.size
      val keys =
        partCols.map(c => org.apache.spark.sql.connector.expressions.Expressions.identity(c)
            : org.apache.spark.sql.connector.expressions.Expression) ++
          (if (bucketN > 0)
            Seq(org.apache.spark.sql.connector.expressions.Expressions.bucket(
              bucketN, bucketCols: _*)
              : org.apache.spark.sql.connector.expressions.Expression)
          else Nil)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        keys.toArray, math.max(distinctKeys, 1))
    } else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  /** PER-PARTITION output ordering from verified `graft.sortedBy` stamps:
    * every split of a sorted file is itself sorted, so when ALL planned
    * files certify the same column list, each input partition's rows emerge
    * ascending-nulls-first on it — Spark's `EnsureRequirements` then drops
    * local Sort nodes (`sortWithinPartitions`, sort-based aggregation,
    * window sorts over the same prefix) instead of re-sorting data the
    * layout already ordered. Withheld under a KeyGroupedPartitioning whose
    * groups CONCATENATE several splits (each sorted, the concatenation
    * not) — but CLAIMED when every key group is a single split
    * ([[singleSplitPerKey]]): a co-bucketed, sort-stamped pair of tables
    * then joins with neither a shuffle NOR a sort on either side. Also
    * withheld for aggregate pushdown shapes (different output schema) and
    * for any column pruned out of the read schema (an ordering claim must
    * reference output columns). */
  /** Key tuple of a file under the reported key-grouping (identity
    * partition values + bucket id), for the one-split-per-key probe. */
  private def groupKeyOf(m: OcfDataSource.OcfFileMeta): Seq[String] =
    partIdx.toSeq.map(i =>
      if (i < m.partitionValues.length) m.partitionValues(i) else null) ++
      (if (bucketN > 0) Seq(m.partitionValues(bucketValueIdx)) else Nil)

  /** True when every key group is exactly ONE split: one file per key, the
    * file small enough for a single size-based split, and no block index
    * (which could shard it into several aligned ranges). Only then does a
    * per-file sort stamp survive key grouping — a group that CONCATENATES
    * splits (several files, or several ranges of one file) is not ordered
    * even though each piece is. */
  private def singleSplitPerKey: Boolean =
    files.groupBy(groupKeyOf).valuesIterator.forall { fs =>
      fs.lengthCompare(1) == 0 && fs.head.len <= splitSize &&
        fs.head.blockIndexJson.isEmpty && !fs.head.blockIndexInHeader
    }

  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    if (countStar || aggExprs.nonEmpty || files.isEmpty ||
        (keyGrouped && !singleSplitPerKey))
      return Array.empty
    val lists = files.map(_.sortedByJson)
    if (lists.exists(_.isEmpty)) return Array.empty
    // a malformed stamp parses to None → no ordering claim for the scan
    val parsed = lists.map(js => OcfPartitions.parseSortedBy(js.get))
    if (parsed.exists(_.isEmpty)) return Array.empty
    val head = parsed.head
    if (parsed.exists(_ != head)) return Array.empty
    val headList = head.get
    val out = readSchema().fieldNames.toSet
    headList.takeWhile(out.contains).map { n =>
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(n),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
    }.toArray
  }

  /** RUNTIME (dynamic file pruning) filtering: a broadcast join whose build
    * side constrains a partition column OR a stats-/bloom-stamped data
    * column hands the joined key set to the probe-side scan at EXECUTION
    * time — whole files vanish from the plan without the user writing a
    * literal predicate. Spark's DPP rule targets exactly this interface for
    * V2 relations. Exposed attributes: the partition columns plus every
    * output data column at least one planned file stamps (stats or bloom) —
    * names are scanned from the header JSON keys without decoding the
    * values, so a wide listing costs a token walk, not megabytes of base64.
    * The evaluator is the same conservative [[OcfPartitions.mayMatch]] +
    * [[OcfBloom.mayMatch]] used at plan time (exact on partition values,
    * range on header stats, membership on blooms), so over-delivery is
    * impossible: Spark re-applies the join itself. */
  // memoized: planning may ask for the filterable attributes several times,
  // and the stamped-name token walk is O(listing)
  @transient private lazy val filterableColumns: Seq[String] = {
    if (countStar || aggExprs.nonEmpty) Nil
    else {
      val out = readSchema().fieldNames.toSet
      val stamped = files.iterator.flatMap(m =>
        m.statsJson.iterator.flatMap(OcfPartitions.jsonFieldNames) ++
          m.bloomJson.iterator.flatMap(OcfPartitions.jsonFieldNames))
        .filter(c => out.contains(c) && !partCols.contains(c))
        .toSeq.distinct
      // bucket columns answer runtime equality sets by hashing the keys —
      // a broadcast join keyed on the bucket column prunes to the buckets
      // the build side's values actually hash into
      (partCols ++ stamped ++ bucketCols.filter(out.contains)).distinct
    }
  }

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    filterableColumns
      .map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  // Runtime-filtered view of `files`. Split indices stay STABLE: splits
  // always index into the ORIGINAL `files` table and runtime pruning only
  // DROPS splits. Spark may build (and cache) the reader factory BEFORE
  // filter() runs — DataSourceV2ScanExecBase forces the readerFactory lazy
  // val during columnar-support planning, ahead of DPP subquery execution —
  // so a factory snapshotting a filtered list would misalign with splits
  // planned afterwards and read the wrong files. With one index space the
  // factory's creation time is irrelevant.
  @transient private var runtimeFiles: Seq[OcfDataSource.OcfFileMeta] = _
  // the delivered runtime filters also feed BLOCK pruning at split planning
  // (block-index stats can refute a runtime key set inside surviving files)
  @transient private var runtimeFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil
  private def effectiveFiles: Seq[OcfDataSource.OcfFileMeta] =
    if (runtimeFiles != null) runtimeFiles else files

  /** Driver-side, read at row-level-operation COMMIT time (after execution,
    * so runtime group filtering has already shrunk the set): the files this
    * scan actually read — the groups a copy-on-write commit replaces. */
  private[sources] def plannedFilePaths: Seq[String] = effectiveFiles.map(_.path)

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    // agg-pushed scans never declare filter attributes (partCols is empty
    // there), but guard anyway: their aggValues are index-aligned to the
    // UNFILTERED file list
    if (countStar || aggExprs.nonEmpty) return
    runtimeFilters = filters.toSeq
    val nameToIdx = partCols.zipWithIndex.toMap
    val bloomUseful = OcfBloom.anyEqualityShape(filters.toSeq)
    // lazy bloom upgrade (manifest metas carry only a presence flag): the
    // runtime key set arrived with equality shapes, so headers flagged as
    // bloom-stamped are worth one pread each before the refutation pass
    val upgraded: Map[String, OcfDataSource.OcfFileMeta] =
      if (!bloomUseful) Map.empty
      else {
        val need = files.filter(m => m.bloomInHeader && m.bloomJson.isEmpty)
        if (need.isEmpty) Map.empty
        else OcfDataSource.fetchMetas(conf.value,
          need.map(m => OcfDataSource.FileSlice(m.path, m.len, m.partitionValues)))
          .map(m => m.path -> m).toMap
      }
    // per-ERA bucket pruning (X103): each era's admitted-id set is computed
    // under ITS OWN modulus; a file is judged by the one level its own path
    // carries (other eras' levels read AbsentDir and admit vacuously)
    val eraAdmitted: Seq[(Int, Option[Set[Int]])] =
      bucketEras.map { case (mod, idx) =>
        idx -> OcfBucket.admittedIds(filters.toSeq, bucketCols, bucketColTypes, mod) }
    runtimeFiles = files.filter { m =>
      def partValue(name: String): Option[OcfPartitions.PartVal] =
        nameToIdx.get(name).collect {
          case i if partIdx(i) < m.partitionValues.length =>
            OcfPartitions.PartVal(m.partitionValues(partIdx(i)), partTypes(i))
        }
      lazy val stats = m.statsJson.map(OcfPartitions.parseStats).getOrElse(Map.empty)
      // bloom parse (base64 decode, potentially MBs across a wide listing)
      // only runs when the runtime key set contains an equality shape a
      // bloom can answer — a range-only runtime filter costs no decode
      eraAdmitted.forall { case (idx, admitted) =>
        admitted.forall { ids =>
          idx >= m.partitionValues.length ||
            m.partitionValues(idx) == OcfPartitions.AbsentDir ||
            Option(m.partitionValues(idx))
              .flatMap(_.toIntOption).exists(ids.contains)
        }
      } &&
      OcfPartitions.mayMatch(filters.toSeq, partValue, stats.get) &&
        (!bloomUseful || upgraded.getOrElse(m.path, m).bloomJson.forall { js =>
          OcfBloom.mayMatch(filters.toSeq, OcfBloom.parse(js).get)
        })
    }
    OcfDataSource.lastPlannedFiles.set(runtimeFiles.map(_.path))
  }

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    OcfScanMetrics.all

  /** Data fields (post-prune) followed by the required partition columns
    * under their RESOLVED read types (declared via `partitionSchema` or
    * inferred int/long/date/string from the directory values). */
  override def readSchema(): StructType =
    if (countStar)
      StructType(Seq(StructField("count", org.apache.spark.sql.types.LongType,
        nullable = false)))
    else if (aggExprs.nonEmpty)
      // contract: group-by output columns first (positional), then one
      // field per aggregate expression
      StructType(aggGroupCols.zip(aggGroupTypes).map { case (c, dt) =>
        StructField(c, dt, nullable = true) } ++
        aggExprs.zipWithIndex.map {
          case (OcfAggExpr.Count, i) =>
            StructField(s"count_$i", org.apache.spark.sql.types.LongType, nullable = false)
          case (OcfAggExpr.MinOf(f, dt), i) => StructField(s"min_${f}_$i", dt, nullable = true)
          case (OcfAggExpr.MaxOf(f, dt), i) => StructField(s"max_${f}_$i", dt, nullable = true)
          case (OcfAggExpr.CountOf(f), i) =>
            StructField(s"count_${f}_$i", org.apache.spark.sql.types.LongType, nullable = false)
          case (OcfAggExpr.SumOf(f), i) =>
            StructField(s"sum_${f}_$i", org.apache.spark.sql.types.LongType, nullable = true)
        })
    else StructType(sql.fields ++ partCols.zip(partTypes).map { case (c, dt) =>
      StructField(c, dt, nullable = true) } ++
      (if (withFilePath)
        Seq(StructField(OcfDataSource.FileColName,
          org.apache.spark.sql.types.StringType, nullable = true))
      else Nil) ++
      (if (withPos)
        Seq(StructField(OcfDataSource.PosColName,
          org.apache.spark.sql.types.LongType, nullable = true))
      else Nil))
  override def toBatch: Batch = this
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(!countStar && aggExprs.isEmpty && limit == Long.MaxValue,
      "graft-ocf: limit/aggregate pushdown is batch-only")
    require(!branchRead,
      "graft-ocf: branch reads are batch-only — streaming discovery follows " +
        "the MAIN manifest lineage, not a branch head. Audit the branch " +
        "with spark.read.option(\"branch\", ...), or fast_forward it and " +
        "stream main (optionally from its version via startingVersion).")
    require(!versionPinned,
      "graft-ocf: VERSION/TIMESTAMP AS OF (and tag) reads are batch-only — " +
        "streaming discovery follows the LATEST manifest and would silently " +
        "leave the pin. Use spark.read for the pinned snapshot, or stream " +
        "the live table with option(\"startingVersion\", v) to begin AFTER " +
        "that version.")
    require(!boundedIncremental,
      "graft-ocf: endingVersion is batch-only — a stream keeps discovering " +
        "new commits and has no end; drop endingVersion (or use spark.read)")
    // partition-exact filters are CONSUMED at the batch planner (no
    // post-scan Filter); the streaming planner reads every discovered file,
    // so a consumed filter here would silently return unfiltered rows.
    // Spark does not currently push filters into this streaming path —
    // fail loudly if that ever changes rather than emit wrong results.
    require(pushedFilters.isEmpty,
      "graft-ocf: filter pushdown is batch-only; the streaming source would " +
        "not apply consumed partition filters")
    require(!withFilePath && !withPos,
      "graft-ocf: the _file/_pos metadata columns are batch-only")
    require(deletes.isEmpty && eqDeletes.isEmpty,
      "graft-ocf: streaming read refused — the table carries position- or " +
        "equality-delete files, and a stream cannot retract already-emitted " +
        "rows. CALL <cat>.system.rewrite_position_deletes to fold them, " +
        "then restart the stream.")
    new OcfMicroBatchStream(this, checkpointLocation)
  }
  override def description(): String = {
    val pushed =
      (if (countStar) " PushedAggregation: [COUNT(*)]" else "") +
        (if (aggExprs.nonEmpty) s" PushedAggregation: [${aggExprs.map {
          case OcfAggExpr.Count => "COUNT(*)"
          case OcfAggExpr.MinOf(f, _) => s"MIN($f)"
          case OcfAggExpr.MaxOf(f, _) => s"MAX($f)"
          case OcfAggExpr.CountOf(f) => s"COUNT($f)"
          case OcfAggExpr.SumOf(f) => s"SUM($f)"
        }.mkString(", ")}]" else "") +
        (if (aggGroupCols.nonEmpty)
          s" PushedGroupBy: [${aggGroupCols.mkString(", ")}]" else "") +
        (if (topNCols.nonEmpty)
          s" PushedTopN: ORDER BY ${topNCols.mkString(", ")} LIMIT $limit"
        else if (limit != Long.MaxValue) s" PushedLimit: LIMIT $limit" else "") +
        (if (pushedFilters.nonEmpty)
          s" PushedFilters: [${pushedFilters.mkString(", ")}]" else "") +
        (if (partCols.nonEmpty) s" PartitionCols: ${partCols.mkString(",")}" else "") +
        (if (bucketN > 0) s" BucketedBy: ${bucketCols.mkString(",")} into $bucketN" else "") +
        (if (bucketN == 0 && bucketEras.nonEmpty)
          s" BucketedBy: ${bucketCols.mkString(",")} MIXED ERAS " +
            s"(${bucketEras.map(_._1).sorted.mkString(",")}) — key grouping withheld"
        else "") +
        (if (deletes.nonEmpty)
          s" PositionDeletes: ${deletes.valuesIterator.map(_.size).sum} file(s) " +
            s"over ${deletes.size} target(s)" else "") +
        (if (eqDeletes.nonEmpty)
          s" EqualityDeletes: over ${eqDeletes.size} target(s)" else "") +
        (if (withPos) " RowOrdinals: _pos (unsplit files)" else "")
    s"graft-ocf files=${files.size} splitSize=$splitSize$pushed ReadSchema: ${readSchema().simpleString}"
  }

  override def planInputPartitions(): Array[InputPartition] =
    // a min/max-only aggregation is fully answered from plan-time header
    // stamps: ONE task emitting one constant row per file (fileIndex -1
    // sentinel) — scheduling a no-I/O task per file would make task
    // overhead the whole cost of a 100k-file profile query
    if (aggExprs.nonEmpty && !aggExprs.contains(OcfAggExpr.Count))
      Array(OcfInputPartition(-1, 0L, 0L))
    else {
      val keep: OcfDataSource.OcfFileMeta => Boolean =
        if (runtimeFiles == null) _ => true
        else { val kept = runtimeFiles.iterator.map(_.path).toSet; m => kept(m.path) }
      val allFilters =
        pushedFilters ++ (if (runtimeFilters == null) Nil else runtimeFilters)
      // lazy block-index upgrade (manifest metas carry a presence flag
      // only): with filters in play, a header-stamped block index can
      // refute whole blocks inside surviving files — one pread each
      val blockUpgraded: Map[String, OcfDataSource.OcfFileMeta] =
        if (allFilters.isEmpty) Map.empty
        else {
          val need = files.filter(m =>
            keep(m) && m.blockIndexInHeader && m.blockIndexJson.isEmpty)
          if (need.isEmpty) Map.empty
          else OcfDataSource.fetchMetas(conf.value,
            need.map(m => OcfDataSource.FileSlice(m.path, m.len, m.partitionValues)))
            .map(m => m.path -> m).toMap
        }
      val keyed = keyGrouped
      val splits = files.iterator.zipWithIndex.filter { case (f, _) => keep(f) }.flatMap { case (f, i) =>
        def keyRow(f: OcfDataSource.OcfFileMeta): InternalRow = {
          val vals = new Array[Any](partIdx.length + (if (bucketN > 0) 1 else 0))
          var k = 0
          while (k < partIdx.length) {
            vals(k) = OcfSplitReader.partitionValue(f, partIdx(k), partTypes(k))
            k += 1
          }
          if (bucketN > 0)
            vals(partIdx.length) = f.partitionValues(bucketValueIdx).toInt
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
        }
        def mk(s: Long, e: Long, aligned: Boolean): OcfSplit =
          if (keyed) OcfKeyedInputPartition(i, s, e, keyRow(f), aligned)
          else OcfInputPartition(i, s, e, aligned)
        // position semantics need the whole file in one task: a `_pos`
        // read counts ordinals from the first block, and a file with
        // attached position deletes must be skip-walked from ordinal 0 —
        // neither block-aligned skipping nor byte splits can know how many
        // rows precede them
        if (withPos || deletes.contains(f.path))
          Iterator.single(mk(0L, f.len, aligned = false))
        else
        // defensive null check: @transient fields revive as null if a scan
        // object ever crosses a serialization boundary before planning
        OcfScan.blockAlignedRanges(blockUpgraded.getOrElse(f.path, f),
          allFilters, splitSize) match {
          case Some(ranges) => ranges.iterator.map { case (s, e) => mk(s, e, aligned = true) }
          case None =>
            (0L until math.max(1L, (f.len + splitSize - 1) / splitSize)).iterator.map { k =>
              mk(k * splitSize, math.min((k + 1) * splitSize, f.len), aligned = false)
            }
        }
      }.toArray
      // packing would break two promises made to Spark: one key per task
      // (key grouping) and sorted tasks (a concatenation of sorted splits
      // is not sorted; top-N pushdown rides the same stamps)
      if (keyed || topNCols.nonEmpty || outputOrdering().nonEmpty) splits.toArray[InputPartition]
      else org.apache.spark.sql.SparkSession.getActiveSession
          .orElse(org.apache.spark.sql.SparkSession.getDefaultSession) match {
        case None => splits.toArray[InputPartition]
        case Some(session) =>
          val c = session.sessionState.conf
          val minPartitions = c.filesMinPartitionNum.getOrElse(
            c.getConf(org.apache.spark.sql.internal.SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
              .getOrElse(session.sparkContext.defaultParallelism))
          OcfScan.pack(splits, splitSize, c.filesOpenCostInBytes, minPartitions)
      }
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the stats/bloom/block-index stamps are DRIVER-ONLY planning inputs
    // (file pruning, split planning, agg constants); shipping them in the
    // factory's file table would put potentially-MBs of JSON per file into
    // the stage's task binary for data no reader ever touches
    val shipped = files.iterator.map(m =>
      m.copy(statsJson = None, bloomJson = None, blockIndexJson = None,
        sortedByJson = None)).toIndexedSeq
    if (countStar) OcfCountReaderFactory(shipped, conf)
    else if (aggExprs.nonEmpty)
      OcfAggReaderFactory(shipped, conf, aggExprs.toArray,
        aggValues.toIndexedSeq, aggGroupCols.length)
    else {
      // position deletes ride the factory as per-file-INDEX meta lists
      // (small: point deletes touch few files); the reader loads the
      // ordinals task-side, so the driver never materializes them
      def slim(ds: Seq[OcfDataSource.OcfFileMeta]): Seq[OcfDataSource.OcfFileMeta] =
        ds.map(d => d.copy(statsJson = None, bloomJson = None,
          blockIndexJson = None, sortedByJson = None))
      val delByIdx: Map[Int, Seq[OcfDataSource.OcfFileMeta]] =
        if (deletes.isEmpty) Map.empty
        else files.iterator.zipWithIndex.flatMap { case (f, i) =>
          deletes.get(f.path).map(ds => i -> slim(ds))
        }.toMap
      // equality deletes (X94): same per-file-index shape; the reader loads
      // each delete file's key tuples task-side into a hash set
      val eqByIdx: Map[Int, Seq[OcfDataSource.OcfFileMeta]] =
        if (eqDeletes.isEmpty) Map.empty
        else files.iterator.zipWithIndex.flatMap { case (f, i) =>
          eqDeletes.get(f.path).map(ds => i -> slim(ds))
        }.toMap
      // vectorized fast lane (X91): flat all-primitive reader schema and a
      // positional wire plan for EVERY planned file (identity, pruned
      // subsets, plain-writer-under-nullable-reader) — everything else
      // rides the row reader. Partition values and `_file` are per-split
      // CONSTANTS and ride as constant vectors; MoR position/equality
      // deletes vectorize too (X105: skip-decode / slot-reuse in
      // [[OcfColumnarSplitReader]]), so a burdened table keeps the lane;
      // `_pos` rides as a real LongType ordinal vector (whole-file splits,
      // planner-enforced) — the CDC anti-joins' scan shape.
      val cf: Option[Array[OcfColumnar.Field]] =
        if (!columnarEnabled || wrap) None
        else OcfColumnar.fieldsFor(readerJson).filter(rf =>
          files.forall(m =>
            OcfColumnar.wirePlanFor(m.writerSchemaJson, rf).isDefined))
      OcfReaderFactory(shipped, readerJson, wrap, conf, limit, partIdx, partTypes,
        withFilePath, withPos, delByIdx, columnarFields = cf,
        eqDeletes = eqByIdx)
    }
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(effectiveFiles.map(_.len).sum)
    /** Exact when every planned file carries a `graft.rows` stamp (the
      * sink's sealed row count, piggybacked on the stats re-copy) and the
      * scan emits raw rows — CBO's join planning then sees a real
      * cardinality instead of a byte-based guess. Any unstamped file, a
      * pushed limit, or an aggregate shape leaves it empty (a wrong
      * cardinality misleads the planner more than a missing one). */
    override def numRows(): OptionalLong = {
      // position deletes make stamped row counts overcounts
      if (countStar || aggExprs.nonEmpty || limit != Long.MaxValue ||
          deletes.nonEmpty || eqDeletes.nonEmpty)
        return OptionalLong.empty()
      val fs = effectiveFiles
      if (fs.nonEmpty && fs.forall(_.rowsStamp.isDefined))
        OptionalLong.of(fs.map(_.rowsStamp.get).sum)
      else OptionalLong.empty()
    }

    /** Per-column min/max/nullCount for CBO, folded from the planned files'
      * `graft.stats` stamps (manifest-inline or header): filter-selectivity
      * and join-size estimation then work from real bounds instead of
      * byte-count guesses. A column reports only when EVERY planned file
      * stamps it (a partial bound is a wrong bound); bounds may be wider
      * than the post-filter rows — conservative, like parquet's. */
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (countStar || aggExprs.nonEmpty || limit != Long.MaxValue ||
          deletes.nonEmpty || eqDeletes.nonEmpty) return out
      val fs = effectiveFiles
      if (fs.isEmpty || !fs.forall(_.statsJson.isDefined)) return out
      val parsed = fs.map(m =>
        m -> scala.util.Try(OcfPartitions.parseStats(m.statsJson.get))
          .getOrElse(Map.empty[String, OcfPartitions.ColStat]))
      val dataFields = readSchema().fields.filterNot(f =>
        partCols.contains(f.name) || f.name == OcfDataSource.FileColName)
      dataFields.foreach { f =>
        val stats = parsed.map { case (_, m) => m.get(f.name) }
        val renderable = f.dataType match {
          case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType |
               org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType |
               org.apache.spark.sql.types.StringType => true
          case _ => false
        }
        if (renderable && stats.forall(_.isDefined)) {
          val ss = stats.map(_.get)
          val ord = org.apache.spark.sql.catalyst.util.TypeUtils
            .getInterpretedOrdering(f.dataType).asInstanceOf[Ordering[Any]]
          val mins = ss.flatMap(_.min).map(OcfDataSource.statValue(_, f.dataType))
          val maxs = ss.flatMap(_.max).map(OcfDataSource.statValue(_, f.dataType))
          val nulls: Option[Long] =
            if (parsed.forall(_._1.rowsStamp.isDefined) && ss.forall(_.nonNull.isDefined))
              Some(parsed.map(_._1.rowsStamp.get).sum - ss.flatMap(_.nonNull).sum)
            else None
          // NDV (X89): union the per-file HLL sketches — reported only when
          // every non-all-null file carries one (a partial union is an
          // undercount, which misleads join planning worse than absence)
          val ndv: Option[Long] = {
            val carrying = ss.filterNot(_.allNull)
            if (carrying.isEmpty || !carrying.forall(_.hllB64.isDefined)) None
            else {
              val regs = carrying.flatMap(s => OcfHll.fromBase64(s.hllB64.get))
              if (regs.length != carrying.length) None
              else {
                val merged = regs.reduceLeft(OcfHll.merge)
                val est = OcfHll.estimate(merged)
                // clamp to the known row-count bound (a 4.6%-error sketch
                // must not claim more distinct values than rows)
                val bound = ss.flatMap(_.nonNull).reduceOption(_ + _)
                Some(bound.fold(est)(b => math.min(est, b)).max(1L))
              }
            }
          }
          out.put(org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def min(): java.util.Optional[Object] =
                if (mins.isEmpty) java.util.Optional.empty()
                else java.util.Optional.of(mins.min(ord).asInstanceOf[Object])
              override def max(): java.util.Optional[Object] =
                if (maxs.isEmpty) java.util.Optional.empty()
                else java.util.Optional.of(maxs.max(ord).asInstanceOf[Object])
              override def nullCount(): OptionalLong =
                nulls.map(OptionalLong.of).getOrElse(OptionalLong.empty())
              override def distinctCount(): OptionalLong =
                ndv.map(OptionalLong.of).getOrElse(OptionalLong.empty())
            })
        }
      }
      out
    }
  }
}

private[graft] object OcfScan {
  /** Bin-pack planned splits into tasks by Spark's own file-packing rule
    * (`FilePartition.maxSplitBytes` + `getFilePartitions`): each split is
    * charged its byte length plus `openCost`, the target per task is
    * `min(splitSize, max(openCost, total / minPartitions))`, and splits
    * are placed largest first, next-fit. Many small files thus run as about
    * `minPartitions` tasks, while a split near `splitSize` keeps a task of
    * its own. A task of one split stays a bare split; a packed task lists
    * its splits in planning order. When nothing packs, the plan is
    * returned unchanged. */
  def pack(splits: Array[OcfSplit], splitSize: Long, openCost: Long,
           minPartitions: Int): Array[InputPartition] = {
    def len(i: Int): Long = splits(i).end - splits(i).start
    val total = splits.indices.iterator.map(len(_) + openCost).sum
    val target = math.min(splitSize, math.max(openCost, total / minPartitions))
    val tasks = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    val current = scala.collection.mutable.ArrayBuffer.empty[Int]
    var size = 0L
    splits.indices.sortBy(i => -len(i)).foreach { i =>
      if (current.nonEmpty && size + len(i) > target) {
        tasks += current.toArray
        current.clear()
        size = 0L
      }
      current += i
      size += len(i) + openCost
    }
    if (current.nonEmpty) tasks += current.toArray
    if (tasks.length == splits.length) splits.toArray[InputPartition]
    else tasks.map(_.sorted).sortBy(_.head).map { t =>
      if (t.length == 1) splits(t.head) else OcfPackedPartition(t.map(splits))
    }.toArray
  }

  /** Plan a block-indexed file's splits from its `graft.blockIndex` stamp:
    * block-ALIGNED byte ranges (readers anchor at the exact offset — no
    * sync scan — and stop exactly at `end`), with blocks whose stamped
    * bounds refute the pushed filters PRUNED and the surviving runs chunked
    * at `splitSize` on block boundaries. This is row-group pruning for OCF:
    * file-level stats stop helping once files are GBs, but a selective
    * range predicate over a sorted/clustered column skips the non-matching
    * middle of every file, block by block, before any data I/O.
    *
    * None = no usable index (absent, unparsable, or inconsistent with the
    * file's actual extent — a stale stamp must degrade to plain splits, not
    * drop data). Soundness mirrors the file-level path: a block survives
    * unless `mayMatch` PROVES no row in it can match; Spark re-applies
    * every filter on the decoded rows. */
  def blockAlignedRanges(f: OcfDataSource.OcfFileMeta,
                         filters: Seq[org.apache.spark.sql.sources.Filter],
                         splitSize: Long): Option[Seq[(Long, Long)]] =
    f.blockIndexJson.flatMap { js =>
      scala.util.Try(OcfPartitions.parseBlockIndex(js)).toOption.flatMap { idx =>
        // the index must tile the block section exactly: first block at
        // relative 0, entries contiguous, last entry ending at file end
        var ok = idx.nonEmpty && idx.head.offset == 0L
        var i = 0
        while (ok && i < idx.length) {
          val e = idx(i)
          ok = e.len > 0 && e.rows > 0 &&
            (if (i + 1 < idx.length) idx(i + 1).offset == e.offset + e.len
             else f.headerEnd + e.offset + e.len == f.len)
          i += 1
        }
        if (!ok) None
        else {
          val ranges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          var runStart = -1L
          var runEnd = -1L
          idx.foreach { e =>
            // partition-column predicates were settled at file level (the
            // whole file shares one partition tuple), so blocks resolve
            // them as unknown -> kept, which is correct and costless
            val m = filters.isEmpty ||
              OcfPartitions.mayMatch(filters, _ => None, e.stats.get)
            if (m) {
              if (runStart < 0L) { runStart = e.offset; runEnd = e.offset + e.len }
              else if (runEnd - runStart + e.len > splitSize) {
                ranges += ((runStart, runEnd))
                runStart = e.offset; runEnd = e.offset + e.len
              } else runEnd = e.offset + e.len
            } else if (runStart >= 0L) {
              ranges += ((runStart, runEnd)); runStart = -1L
            }
          }
          if (runStart >= 0L) ranges += ((runStart, runEnd))
          Some(ranges.map { case (s, e) =>
            (f.headerEnd + s, f.headerEnd + e) }.toSeq)
        }
      }
    }
}

/** Row and columnar readers for a planned scan. It carries the file table
  * that every split indexes into; a task's partition is one split or an
  * [[OcfPackedPartition]] of several, read in turn by [[OcfChainedReader]].
  * The COUNT and aggregate factories below take the same two shapes. */
private[sources] final case class OcfReaderFactory(
    files: IndexedSeq[OcfDataSource.OcfFileMeta], readerJson: String,
    wrap: Boolean, conf: SerializableHadoopConf, limit: Long = Long.MaxValue,
    partIdx: Array[Int] = Array.empty,
    partTypes: Seq[org.apache.spark.sql.types.DataType] = Nil,
    withFilePath: Boolean = false,
    withPos: Boolean = false,
    deletes: Map[Int, Seq[OcfDataSource.OcfFileMeta]] = Map.empty,
    // vectorized fast lane (X91): defined only when EVERY planned file's
    // flat primitive schema resolves identically — uniform across
    // partitions, so Spark's all-or-nothing columnar planning holds
    columnarFields: Option[Array[OcfColumnar.Field]] = None,
    // equality deletes (X94): per-file-index metas of the key files whose
    // tuples the reader drops
    eqDeletes: Map[Int, Seq[OcfDataSource.OcfFileMeta]] = Map.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    OcfChainedReader.open(partition)(splitReader)

  private def splitReader(p: OcfSplit): PartitionReader[InternalRow] = {
    val meta = files(p.fileIndex)
    new OcfSplitReader(meta, p.start, p.end, readerJson, wrap,
      conf.value, limit,
      OcfSplitReader.appendedRow(meta, partIdx, partTypes, withFilePath, withPos),
      p.aligned,
      deleteFiles = deletes.getOrElse(p.fileIndex, Nil),
      // `_pos` slot ordinal in the appended row: after partition values
      // and (when present) the `_file` constant
      posSlot = if (withPos) partIdx.length + (if (withFilePath) 1 else 0) else -1,
      eqDeleteFiles = eqDeletes.getOrElse(p.fileIndex, Nil))
  }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnarFields.isDefined

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    OcfChainedReader.open(partition)(columnarSplitReader)

  private def columnarSplitReader(p: OcfSplit)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val meta = files(p.fileIndex)
    // the per-FILE wire plan drives the decode — the driver gated the lane
    // on every planned file having one, so a miss here is a planning bug
    val plan = OcfColumnar.wirePlanFor(meta.writerSchemaJson, columnarFields.get)
      .getOrElse(throw new IllegalStateException(
        s"columnar lane planned without a wire plan for ${meta.path}"))
    // appended constants, in readSchema order: required partition values
    // (the SAME materialization as the row lane's appendedRow), then `_file`
    val appended = new Array[(org.apache.spark.sql.types.DataType, Any)](
      partIdx.length + (if (withFilePath) 1 else 0))
    var k = 0
    while (k < partIdx.length) {
      appended(k) = (partTypes(k),
        OcfSplitReader.partitionValue(meta, partIdx(k), partTypes(k)))
      k += 1
    }
    if (withFilePath)
      appended(k) = (org.apache.spark.sql.types.StringType,
        org.apache.spark.unsafe.types.UTF8String.fromString(meta.path))
    new OcfColumnarSplitReader(meta, p.start, p.end,
      columnarFields.get, plan, conf.value, limit, p.aligned, appended,
      readerJson = readerJson,
      deleteFiles = deletes.getOrElse(p.fileIndex, Nil),
      eqDeleteFiles = eqDeletes.getOrElse(p.fileIndex, Nil),
      withPos = withPos)
  }
}

/** `COUNT(*)` partials: one reader per split, emitting a single row with the
  * sum of its blocks' row-count varints. Walks block HEADERS only — per
  * block: one ~20-byte positioned read for the two varints, then a seek past
  * body + sync. No decompression, no datum decode, no reader-schema
  * resolution. The only full-chunk read is the one sync scan anchoring a
  * mid-file split. */
private[sources] final case class OcfCountReaderFactory(
    files: IndexedSeq[OcfDataSource.OcfFileMeta], conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    OcfChainedReader.open(partition) { p =>
      new OcfCountReader(files(p.fileIndex), p.start, p.end, conf.value, p.aligned)
    }
}

private[graft] final class OcfCountReader(
    meta: OcfDataSource.OcfFileMeta, start: Long, end: Long, conf: Configuration,
    aligned: Boolean = false)
    extends PartitionReader[InternalRow] {
  private val hPath = new Path(meta.path)
  private val in: FSDataInputStream = hPath.getFileSystem(conf).open(hPath)
  private var done = false
  private var row: InternalRow = _

  private var blocksVisited = 0L
  private var bytesFetched = 0L

  override def next(): Boolean = {
    if (done) return false
    val (total, blocks, bytes) =
      try OcfBlocks.sumBlockCounts(in, meta, start, end, aligned)
      catch { case t: Throwable =>
        try in.close() catch { case s: Throwable => t.addSuppressed(s) }
        throw t
      }
    blocksVisited += blocks
    bytesFetched += bytes
    row = new GenericInternalRow(Array[Any](total))
    done = true
    true
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    OcfScanMetrics.ofSplit(blocksVisited, bytesFetched)

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

/** Partials for a pushed COUNT/MIN/MAX mix: one row per split. MIN/MAX are
  * plan-time constants from the file's header stamp (exact — the sink's
  * tracker saw every row); COUNT walks block headers like [[OcfCountReader]].
  * A min/max-only aggregation therefore NEVER OPENS the file. */
private[sources] final case class OcfAggReaderFactory(
    files: IndexedSeq[OcfDataSource.OcfFileMeta], conf: SerializableHadoopConf,
    exprs: Array[OcfAggExpr], values: IndexedSeq[Array[Any]],
    groupCount: Int = 0)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    OcfChainedReader.open(partition) { p =>
      if (p.fileIndex < 0) new OcfAggConstantsReader(exprs, values)
      else new OcfAggReader(files(p.fileIndex), p.start, p.end, conf.value,
        // the row template is group values + agg constants; COUNT slots sit
        // after the group prefix
        exprs.zipWithIndex.collect { case (OcfAggExpr.Count, i) => groupCount + i },
        values(p.fileIndex), p.aligned)
    }
}

/** The min/max-only fast path: one task, one constant partial row per file,
  * zero file I/O — everything was read from headers at plan time. */
private[graft] final class OcfAggConstantsReader(
    exprs: Array[OcfAggExpr], values: IndexedSeq[Array[Any]])
    extends PartitionReader[InternalRow] {
  private var i = 0
  private var row: InternalRow = _
  override def next(): Boolean =
    if (i >= values.length) false
    else { row = new GenericInternalRow(values(i)); i += 1; true }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

private[graft] final class OcfAggReader(
    meta: OcfDataSource.OcfFileMeta, start: Long, end: Long, conf: Configuration,
    countSlots: Array[Int], fileValues: Array[Any], aligned: Boolean = false)
    extends PartitionReader[InternalRow] {

  private var in: FSDataInputStream = _
  private var done = false
  private var row: InternalRow = _
  private var blocksVisited = 0L
  private var bytesFetched = 0L

  override def next(): Boolean = {
    if (done) return false
    val vals = fileValues.clone()
    if (countSlots.nonEmpty) {
      val hPath = new Path(meta.path)
      in = hPath.getFileSystem(conf).open(hPath)
      val (total, blocks, bytes) = OcfBlocks.sumBlockCounts(in, meta, start, end, aligned)
      blocksVisited += blocks
      bytesFetched += bytes
      countSlots.foreach(s => vals(s) = total)
    }
    row = new GenericInternalRow(vals)
    done = true
    true
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    OcfScanMetrics.ofSplit(blocksVisited, bytesFetched)

  override def get(): InternalRow = row
  override def close(): Unit = if (in != null) in.close()
}

/** Decodes the blocks of one split. The file header was resolved at planning
  * and arrives via the factory's file table — no split ever reads bytes
  * before its own range. All file access is positioned (`readFully(pos, …)`): two
  * preads per ~64 KB block (header varints, then body + trailing sync in one
  * read), plus the chunked sync scan for a non-zero start offset.
  * Per-executor schema-parse and compiled-reader caches
  * ([[graft.spark.AvroRuntime]]) are shared across splits, so a thousand
  * splits of one file compile the writer→reader resolution once. */
private[graft] object OcfSplitReader {
  /** One partition value as its Catalyst representation under the column's
    * READ TYPE (Int for int/date columns, UTF8String for strings, null for
    * the hive null dir) — the SINGLE materialization point
    * ([[OcfPartitions.castPartValue]]), shared by the per-split partition
    * row, the keyed-split partition keys, and the grouped-aggregate group
    * values so they can never diverge.
    *
    * Bounds guard: a streaming discovery log persisted BEFORE partition
    * support has entries with empty value arrays — degrade to null
    * partition values on replay rather than crash the restarted query. */
  def partitionValue(meta: OcfDataSource.OcfFileMeta, i: Int,
                     dt: org.apache.spark.sql.types.DataType): Any =
    if (i >= meta.partitionValues.length || meta.partitionValues(i) == null) null
    else OcfPartitions.castPartValue(meta.partitionValues(i), dt)

  /** The per-file CONSTANT row of required partition values, or null when
    * unpartitioned — one allocation per split, joined onto every decoded
    * row. `partTypes` aligns with `partIdx` (the REQUIRED columns). */
  def partitionRow(meta: OcfDataSource.OcfFileMeta, partIdx: Array[Int],
                   partTypes: Seq[org.apache.spark.sql.types.DataType]): InternalRow =
    if (partIdx.isEmpty) null
    else new GenericInternalRow(partIdx.indices.toArray.map(k =>
      partitionValue(meta, partIdx(k), partTypes(k))))

  /** The per-file constant row joined onto every decoded data row: required
    * partition values, then (when asked) the `_file` metadata value — the
    * file's path as a string. */
  def appendedRow(meta: OcfDataSource.OcfFileMeta, partIdx: Array[Int],
                  partTypes: Seq[org.apache.spark.sql.types.DataType],
                  withFilePath: Boolean, withPos: Boolean = false): InternalRow = {
    if (!withFilePath && !withPos) return partitionRow(meta, partIdx, partTypes)
    val vals = new Array[Any](partIdx.length + (if (withFilePath) 1 else 0) +
      (if (withPos) 1 else 0))
    var k = 0
    while (k < partIdx.length) {
      vals(k) = partitionValue(meta, partIdx(k), partTypes(k)); k += 1
    }
    if (withFilePath) {
      vals(k) = org.apache.spark.unsafe.types.UTF8String.fromString(meta.path)
      k += 1
    }
    // the `_pos` slot is per-ROW: the reader overwrites it before each emit
    if (withPos) vals(k) = 0L
    new GenericInternalRow(vals)
  }

  /** Load, merge, sort and dedup the deleted ordinals of ONE data file from
    * its position-delete files — small (point/sparse deletes), read once
    * per task. Dedup matters: a re-deleted position would desync the
    * reader's single-pass skip walk. */
  def loadDeletePositions(deleteFiles: Seq[OcfDataSource.OcfFileMeta],
                          conf: Configuration): Array[Long] = {
    if (deleteFiles.isEmpty) return Array.emptyLongArray
    val buf = scala.collection.mutable.ArrayBuilder.make[Long]
    deleteFiles.foreach { m =>
      val p = new Path(m.path)
      val in = p.getFileSystem(conf).open(p)
      try {
        val codec = AvroCodecs(m.codecName)
        var bs = m.headerEnd
        while (bs >= 0 && bs < m.len) {
          val h = OcfBlocks.readBlockHeader(in, m, bs)
          val body = new Array[Byte](h.size.toInt)
          in.readFully(h.dataStart, body, 0, body.length)
          val bin = new AvroBinaryReader(codec.decompress(body))
          var k = 0L
          while (k < h.count) { buf += bin.readLong(); k += 1 }
          bs = h.dataStart + h.size + Ocf.SyncSize
        }
      } finally in.close()
    }
    val arr = buf.result()
    java.util.Arrays.sort(arr)
    var n = 0
    var i = 0
    while (i < arr.length) {
      if (n == 0 || arr(i) != arr(n - 1)) { arr(n) = arr(i); n += 1 }
      i += 1
    }
    if (n == arr.length) arr else java.util.Arrays.copyOf(arr, n)
  }

  /** One equality-delete key group (X94): delete files sharing a key-column
    * set load into one hash set of key tuples; `matches` probes a decoded
    * data row. Tuples are `immutable.ArraySeq`s of Catalyst values
    * (UTF8String/Long/...), which hash/compare element-wise. */
  final class EqGroup(val ordinals: Array[Int],
                      val types: Array[org.apache.spark.sql.types.DataType],
                      val keys: java.util.HashSet[scala.collection.immutable.ArraySeq[Any]]) {
    def matches(row: InternalRow): Boolean = {
      val t = new Array[Any](ordinals.length)
      var i = 0
      while (i < ordinals.length) {
        t(i) = if (row.isNullAt(ordinals(i))) null
               else row.get(ordinals(i), types(i))
        i += 1
      }
      keys.contains(scala.collection.immutable.ArraySeq.unsafeWrapArray(t))
    }
  }

  /** Load ONE data file's applicable equality-delete files into key-group
    * filters. Each delete file's writer schema IS its key record; the keys
    * decode THROUGH resolution against the data reader's matching fields,
    * so a widened table column (int -> long) compares in the widened
    * domain. The scan's pruning keeps key columns readable, so every key
    * name binds to an ordinal of the decoded data row. */
  def loadEqualityFilters(eqFiles: Seq[OcfDataSource.OcfFileMeta],
                          readerJson: String,
                          conf: Configuration): Array[EqGroup] = {
    if (eqFiles.isEmpty) return Array.empty
    val dataRec = graft.avro.AvroSchemaParser.parse(readerJson) match {
      case r: graft.avro.ARecord => r
      case other => throw new IllegalStateException(
        s"graft-ocf: equality deletes need a record reader schema, got " +
          other.typeName)
    }
    val fieldsByName = dataRec.fields.map(f => f.name -> f).toMap
    val (dataSql, _) = OcfDataSource.sqlShape(readerJson)
    // group files by key-column set; tuple sets come from the JVM-wide
    // [[OcfEqScope]] cache (one upsert commit attaches the same key file
    // to many data files — without the cache every split re-read and
    // re-hashed the same bytes)
    final case class GroupAcc(ords: Array[Int],
        tps: Array[org.apache.spark.sql.types.DataType],
        sets: scala.collection.mutable.ArrayBuffer[
          java.util.HashSet[scala.collection.immutable.ArraySeq[Any]]])
    val groups = scala.collection.mutable.LinkedHashMap.empty[Seq[String], GroupAcc]
    eqFiles.foreach { m =>
      val eqRec = graft.avro.AvroSchemaParser.parse(m.writerSchemaJson) match {
        case r: graft.avro.ARecord => r
        case other => throw new IllegalStateException(
          s"graft-ocf: equality-delete file ${m.path} has a non-record " +
            s"schema (${other.typeName})")
      }
      val names: Seq[String] = eqRec.fields.map(_.name)
      val group = groups.getOrElseUpdate(names, {
        val ords = new Array[Int](names.length)
        val tps = new Array[org.apache.spark.sql.types.DataType](names.length)
        var i = 0
        names.foreach { n =>
          val ord = dataSql.fieldNames.indexOf(n)
          require(ord >= 0,
            s"graft-ocf: equality-delete key column '$n' of ${m.path} is " +
              "not in the scan's reader schema (pruning must keep keys)")
          ords(i) = ord
          tps(i) = dataSql.fields(ord).dataType
          i += 1
        }
        GroupAcc(ords, tps, scala.collection.mutable.ArrayBuffer.empty)
      })
      // read the delete file resolved against the DATA reader's key fields
      // (a widened table column compares in the widened domain)
      val eqReaderJson = graft.avro.AvroSchemaParser.toJson(
        graft.avro.ARecord(eqRec.name, eqRec.namespace,
          names.map(n => graft.avro.AField(n, fieldsByName(n).schema))))
      group.sets += OcfEqScope.keySet(m, eqReaderJson, group.tps, conf)
    }
    groups.valuesIterator.map { g =>
      // single-file groups (the common per-commit shape) share the cached
      // set directly (read-only); multi-file groups union into a fresh one
      val keys =
        if (g.sets.length == 1) g.sets.head
        else {
          val u = new java.util.HashSet[scala.collection.immutable.ArraySeq[Any]]()
          g.sets.foreach(u.addAll)
          u
        }
      new EqGroup(g.ords, g.tps, keys)
    }.toArray
  }
}

private[graft] final class OcfSplitReader(
    meta: OcfDataSource.OcfFileMeta, start: Long, end: Long,
    readerJson: String, wrap: Boolean, conf: Configuration,
    limit: Long = Long.MaxValue, partRow: InternalRow = null,
    aligned: Boolean = false,
    deleteFiles: Seq[OcfDataSource.OcfFileMeta] = Nil,
    posSlot: Int = -1,
    eqDeleteFiles: Seq[OcfDataSource.OcfFileMeta] = Nil,
    // CHANGES read (X95): invert the filter — emit ONLY the rows a commit
    // deleted. `emitOnlyPosFiles`: emit rows whose ordinal is in these
    // position-delete files but NOT in `deleteFiles` (the older set —
    // re-deletes of dead rows are not changes). `emitOnlyEqFiles`: emit
    // rows SURVIVING deleteFiles/eqDeleteFiles whose key matches these
    // equality-delete files (the commit's new keys). At most one of the
    // two per reader; both empty = normal read.
    emitOnlyPosFiles: Seq[OcfDataSource.OcfFileMeta] = Nil,
    emitOnlyEqFiles: Seq[OcfDataSource.OcfFileMeta] = Nil)
    extends PartitionReader[InternalRow] {

  // equality deletes (X94) filter by decoded KEY — meaningless on a
  // wrapped bare-datum read (no record fields to bind)
  require((eqDeleteFiles.isEmpty && emitOnlyEqFiles.isEmpty) || !wrap,
    s"graft-ocf: equality deletes need a record read of ${meta.path}")
  require(emitOnlyPosFiles.isEmpty || emitOnlyEqFiles.isEmpty,
    "graft-ocf: one changes-read mode per reader")

  // position semantics (deletes to apply, or `_pos` to emit) require the
  // split to BE the file: ordinals count raw datums from the first block
  require((deleteFiles.isEmpty && posSlot < 0 && emitOnlyPosFiles.isEmpty) ||
      (start == 0L && !aligned),
    s"graft-ocf: positional read of ${meta.path} must scan the whole file " +
      s"(got split [$start, $end), aligned=$aligned)")

  private val hPath = new Path(meta.path)
  private val in: FSDataInputStream = hPath.getFileSystem(conf).open(hPath)
  // aligned splits carry exact block-boundary offsets from the file's block
  // index: anchor at `start` directly (no sync scan) and stop at `end`
  // exactly; plain splits own the blocks whose introducing sync STARTS in
  // [start, end), hence the +16 grace on the stop bound
  private val stopAt: Long = if (aligned) end else end + 16L
  // post-open init can throw (unknown codec, writer→reader resolution
  // failure, I/O during the sync scan); Spark only calls close() on a reader
  // whose constructor SUCCEEDED, so close the stream before rethrowing
  private val (codec, compiled, firstBlockStart) =
    try {
      val c = AvroCodecs(meta.codecName)
      val r = AvroRuntime.catalystReader(meta.writerSchemaJson, readerJson)
      val b = if (aligned) start
              else if (start == 0L) meta.headerEnd
              else OcfBlocks.syncScan(in, meta.sync, meta.len, start, end)
      (c, r, b)
    } catch {
      case t: Throwable =>
        try in.close() catch { case s: Throwable => t.addSuppressed(s) }
        throw t
    }

  // offset of the next block's count varint (always just past a sync
  // marker), or -1 when this split has no further anchored block
  private var blockStart: Long = firstBlockStart
  private var remaining = 0L
  private var emitted = 0L
  private var bin: AvroBinaryReader = _
  private var row: InternalRow = _

  // position-delete application (X87): sorted distinct ordinals to skip;
  // the scan is sequential, so one monotone index walks them in O(1)/row
  private val deletedPos: Array[Long] =
    try OcfSplitReader.loadDeletePositions(deleteFiles, conf)
    catch {
      case t: Throwable =>
        try in.close() catch { case s: Throwable => t.addSuppressed(s) }
        throw t
    }
  private var delIdx = 0
  private var rawPos = 0L

  // equality-delete application (X94): key-group hash sets, probed per
  // decoded row — stateless, so splits stay legal under equality deletes
  private val eqGroups: Array[OcfSplitReader.EqGroup] =
    try OcfSplitReader.loadEqualityFilters(eqDeleteFiles, readerJson, conf)
    catch {
      case t: Throwable =>
        try in.close() catch { case s: Throwable => t.addSuppressed(s) }
        throw t
    }

  private def equalityDeleted(data: InternalRow): Boolean = {
    var i = 0
    while (i < eqGroups.length) {
      if (eqGroups(i).matches(data)) return true
      i += 1
    }
    false
  }

  // changes-read state (X95): the NEWLY-deleted ordinals (new minus old),
  // or the new key groups to match
  private val emitPos: Array[Long] =
    try {
      if (emitOnlyPosFiles.isEmpty) null
      else {
        val fresh = OcfSplitReader.loadDeletePositions(emitOnlyPosFiles, conf)
        if (deletedPos.length == 0) fresh
        else fresh.filterNot(p =>
          java.util.Arrays.binarySearch(deletedPos, p) >= 0)
      }
    } catch {
      case t: Throwable =>
        try in.close() catch { case s: Throwable => t.addSuppressed(s) }
        throw t
    }
  private var emitIdx = 0
  private val emitEqGroups: Array[OcfSplitReader.EqGroup] =
    try OcfSplitReader.loadEqualityFilters(emitOnlyEqFiles, readerJson, conf)
    catch {
      case t: Throwable =>
        try in.close() catch { case s: Throwable => t.addSuppressed(s) }
        throw t
    }
  private val changesRead = emitPos != null || emitEqGroups.length > 0

  private def matchesNewKeys(data: InternalRow): Boolean = {
    var i = 0
    while (i < emitEqGroups.length) {
      if (emitEqGroups(i).matches(data)) return true
      i += 1
    }
    false
  }

  // reused per row: joins the decoded data row with the per-file constant
  // partition-value row (Spark copies rows it retains, the standard
  // file-source appended-partition-columns contract)
  private val joined =
    if (partRow == null) null
    else new org.apache.spark.sql.catalyst.expressions.JoinedRow()

  override def next(): Boolean = {
    // pushed-down limit: a split never decodes (or loads) past `limit` rows,
    // so limit(10) stops after the first block regardless of split size
    // (counted over SURVIVING rows — deletes are applied first)
    if (emitted >= limit) return false
    while (true) {
      while (remaining == 0L) {
        if (blockStart < 0L || blockStart >= meta.len || blockStart >= stopAt)
          return false
        loadBlock()
      }
      val v = compiled(bin)
      remaining -= 1L
      val p = rawPos
      rawPos += 1L
      val keep =
        if (delIdx < deletedPos.length && deletedPos(delIdx) == p) {
          delIdx += 1 // already-dead ordinal: decoded (stream must
          false       // advance), dropped in EVERY mode
        } else if (changesRead) {
          // X95: emit ONLY what the commit newly deleted
          if (emitPos != null) {
            while (emitIdx < emitPos.length && emitPos(emitIdx) < p) emitIdx += 1
            // a newly position-deleted ordinal whose row was ALREADY
            // equality-deleted (skipEq = the pre-commit state) is a
            // re-delete of a dead row, not a change
            emitIdx < emitPos.length && emitPos(emitIdx) == p &&
              (eqGroups.length == 0 ||
                !equalityDeleted(v.asInstanceOf[InternalRow]))
          } else {
            val data = v.asInstanceOf[InternalRow]
            !equalityDeleted(data) && matchesNewKeys(data)
          }
        } else if (eqGroups.length > 0 &&
            equalityDeleted(v.asInstanceOf[InternalRow])) {
          false // equality-deleted key: decoded, dropped
        } else true
      if (keep) {
        if (posSlot >= 0)
          partRow.asInstanceOf[GenericInternalRow].update(posSlot, p)
        val data =
          if (wrap) new GenericInternalRow(Array[Any](v)) else v.asInstanceOf[InternalRow]
        row = if (joined == null) data else joined(data, partRow)
        emitted += 1L
        return true
      }
    }
    false // unreachable
  }

  private var blocksVisited = 0L
  private var bytesFetched = 0L

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    OcfScanMetrics.ofSplit(blocksVisited, bytesFetched)

  override def get(): InternalRow = row
  override def close(): Unit = in.close()

  private def loadBlock(): Unit = {
    val h = OcfBlocks.readBlockHeader(in, meta, blockStart)
    val body = new Array[Byte](h.size.toInt + Ocf.SyncSize)
    in.readFully(h.dataStart, body, 0, body.length)
    blocksVisited += 1
    bytesFetched += 20L + body.length // header pread + body/sync read
    var i = 0
    while (i < Ocf.SyncSize) {
      if (body(h.size.toInt + i) != meta.sync(i))
        throw new AvroResolutionException(
          s"OCF sync marker mismatch at ${meta.path}:$blockStart (corrupt block boundary)")
      i += 1
    }
    bin = new AvroBinaryReader(codec.decompress(java.util.Arrays.copyOf(body, h.size.toInt)))
    remaining = h.count
    blockStart = h.dataStart + h.size + Ocf.SyncSize
  }
}

/** Block-framing primitives shared by the decoding split reader and the
  * header-walking count reader. */
private[sources] object OcfBlocks {

  final case class BlockHeader(count: Long, size: Long, dataStart: Long)

  /** Sum the row-count varints of every block this split owns — the shared
    * header-only walk behind COUNT(*) pushdown (no body read, no codec
    * work). Returns (rowTotal, blocksVisited, bytesFetched). */
  def sumBlockCounts(in: FSDataInputStream, meta: OcfDataSource.OcfFileMeta,
                     start: Long, end: Long,
                     aligned: Boolean = false): (Long, Long, Long) = {
    var total = 0L
    var blocks = 0L
    var bytes = 0L
    // aligned splits carry exact block boundaries (block-index planning):
    // anchor at start directly and stop at end exactly — a sync scan from a
    // nonzero aligned start would SKIP the first owned block, and the +16
    // grace would double-count the next split's first block
    val stopAt = if (aligned) end else end + 16L
    var blockStart =
      if (aligned) start
      else if (start == 0L) meta.headerEnd
      else syncScan(in, meta.sync, meta.len, start, end)
    while (blockStart >= 0L && blockStart < meta.len && blockStart < stopAt) {
      val h = readBlockHeader(in, meta, blockStart)
      total += h.count
      blocks += 1
      bytes += 20L // the header pread; bodies are never fetched
      blockStart = h.dataStart + h.size + Ocf.SyncSize
    }
    (total, blocks, bytes)
  }

  /** Parse the two block varints (row count, compressed size) from a small
    * positioned read; ≤20 bytes. */
  def readBlockHeader(in: FSDataInputStream, meta: OcfDataSource.OcfFileMeta,
                      blockStart: Long): BlockHeader = {
    val hn = math.min(20L, meta.len - blockStart).toInt
    val hbuf = new Array[Byte](hn)
    in.readFully(blockStart, hbuf, 0, hn)
    val hr = new AvroBinaryReader(hbuf, 0, hn)
    val count = hr.readLong()
    val size = hr.readLong()
    if (count < 0 || size < 0 || size > meta.len)
      throw new AvroResolutionException(
        s"corrupt OCF block at ${meta.path}:$blockStart (count $count, size $size)")
    BlockHeader(count, size, blockStart + hr.pos)
  }

  /** Find the first sync marker starting at offset `m >= from` with
    * `m < end`, reading the file in 64 KB chunks with a 15-byte overlap
    * so a marker spanning a chunk boundary is still seen. Returns the block
    * anchor `m + 16`, or -1 if this split owns no block. */
  def syncScan(in: FSDataInputStream, sync: Array[Byte], fileLen: Long,
               from: Long, end: Long): Long = {
    val first = sync(0)
    val chunk = 1 << 16
    val buf = new Array[Byte](chunk + Ocf.SyncSize - 1)
    var base = from
    while (base < end && base <= fileLen - Ocf.SyncSize) {
      val n = math.min(buf.length.toLong, fileLen - base).toInt
      in.readFully(base, buf, 0, n)
      val iMax = math.min((n - Ocf.SyncSize).toLong, end - base - 1L).toInt
      var i = 0
      while (i <= iMax) {
        if (buf(i) == first) {
          var j = 1
          while (j < Ocf.SyncSize && buf(i + j) == sync(j)) j += 1
          if (j == Ocf.SyncSize) return base + i + Ocf.SyncSize
        }
        i += 1
      }
      base += chunk
    }
    -1L
  }
}
