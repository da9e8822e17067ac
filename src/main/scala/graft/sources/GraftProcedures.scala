package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The SQL `CALL` surface for commit-log MAINTENANCE — the operations a
  * table owner runs between queries, exposed the way Iceberg exposes
  * its procedures:
  *
  * {{{
  *   CALL graft.system.optimize(`table` => 't', target_files => 4, zorder_by => 'id')
  *   CALL graft.system.optimize_partitions(`table` => 't', part_col => 'day')
  *   CALL graft.system.compact(`table` => 't')   -- checkpoint manifest
  *   CALL graft.system.prune(`table` => 't')     -- drop pre-checkpoint manifests
  *   CALL graft.system.vacuum(`table` => 't')    -- delete unreferenced data files
  *   CALL graft.system.history(`table` => 't')   -- the commit audit rows
  *   CALL graft.system.clone(`table` => 't', target => 't2', version => 3)
  *   CALL graft.system.restore(`table` => 't', version => 3)
  *   CALL graft.system.detail(`table` => 't')  -- DESCRIBE DETAIL row
  * }}}
  *
  * Each procedure resolves its table against the catalog warehouse and
  * routes to the library call ([[CommitLog.optimize]],
  * [[CommitLog.optimizePartitions]], [[CommitLog.compact]],
  * [[CommitLog.prune]], [[CommitLog.vacuum]], [[CommitLog.history]]),
  * returning a one-row summary (or the history rows) through a
  * driver-side [[LocalScan]] — every result here is metadata-sized by
  * construction (a version number, a count, the retained-manifest
  * list). */
private[sources] object GraftProcedures {

  private def str(s: String): UTF8String = UTF8String.fromString(s)

  private def p(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def pDefault(name: String, dt: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private def resultScan(schema: StructType, out: Seq[InternalRow]): java.util.Iterator[Scan] =
    java.util.Collections.singletonList[Scan](new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = out.toArray
    }).iterator()

  private val versionResult = StructType(Seq(StructField("version", LongType)))
  private val countResult = StructType(Seq(StructField("n", IntegerType)))
  private val maintainResult = StructType(Seq(
    StructField("checkpoint_version", LongType),
    StructField("manifests_pruned", IntegerType),
    StructField("files_vacuumed", IntegerType)))

  /** All procedures, by name. */
  def names: Seq[String] =
    Seq("optimize", "optimize_partitions", "compact", "prune", "vacuum",
      "maintain", "history", "materialize_mapping", "clone", "restore",
      "detail", "harvest_sums", "migrate_spec")

  def load(warehouse: String, ident: Identifier): UnboundProcedure = {
    def logFor(table: String): CommitLog = {
      val root = (warehouse +: table.split('.').toSeq).mkString("/")
      require(CommitLog.exists(SparkSession.active, root),
        s"procedure ${ident.name}: no commit-log table at $root")
      CommitLog(SparkSession.active, root)
    }
    ident.name() match {
      case "optimize" => proc("optimize",
        Seq(p("table", StringType), pDefault("target_files", IntegerType, "1"),
          pDefault("zorder_by", StringType, "''")),
        in => {
          val zs = in.getUTF8String(2).toString
          val z = if (zs.isEmpty) Nil else zs.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val v = logFor(in.getUTF8String(0).toString).optimize(in.getInt(1), z)
          resultScan(versionResult, Seq(new GenericInternalRow(Array[Any](v))))
        })
      case "optimize_partitions" => proc("optimize_partitions",
        Seq(p("table", StringType), p("part_col", StringType),
          pDefault("target_files_per_partition", IntegerType, "1"),
          pDefault("partitions", StringType, "''"),
          pDefault("zorder_by", StringType, "''")),
        in => {
          def list(i: Int): Seq[String] = {
            val s = in.getUTF8String(i).toString
            if (s.isEmpty) Nil else s.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          }
          val v = logFor(in.getUTF8String(0).toString).optimizePartitions(
            in.getUTF8String(1).toString, in.getInt(2), list(3), list(4))
          resultScan(versionResult, Seq(new GenericInternalRow(Array[Any](v))))
        })
      case "compact" => proc("compact", Seq(p("table", StringType)),
        in => resultScan(versionResult, Seq(new GenericInternalRow(
          Array[Any](logFor(in.getUTF8String(0).toString).compact())))))
      case "prune" => proc("prune", Seq(p("table", StringType)),
        in => resultScan(countResult, Seq(new GenericInternalRow(
          Array[Any](logFor(in.getUTF8String(0).toString).prune())))))
      case "vacuum" => proc("vacuum",
        Seq(p("table", StringType),
          // r16: < 0 = the default TTL; 0 disables the fresh-file
          // floor (only when no writer can be mid-commit)
          pDefault("ttl_ms", LongType, "-1"),
          // r17 (ADVICE r16): the DATA-file freshness floor decoupled
          // from the staging-reclaim age — < 0 follows ttl_ms, 0
          // disables just the data floor (full reclamation) without
          // making a live writer's staging dirs reclaimable
          pDefault("data_ttl_ms", LongType, "-1")),
        in => {
          val ttl = in.getLong(1)
          val dataTtl = in.getLong(2)
          val log = logFor(in.getUTF8String(0).toString)
          val n = if (ttl < 0) log.vacuum(dataTtlMs = dataTtl)
            else log.vacuum(ttl, dataTtl)
          resultScan(countResult, Seq(new GenericInternalRow(Array[Any](n))))
        })
      // r16: the ONE scheduled maintenance call — checkpoint +
      // age-scoped prune + vacuum ([[CommitLog.maintain]]); versions
      // younger than retain_hours stay time-travelable
      case "maintain" => proc("maintain",
        Seq(p("table", StringType),
          pDefault("retain_hours", LongType, "168")), // one week
        in => {
          // clamp before converting: hours × 3.6e6 overflows Long past
          // ~2.56e12 hours, and a wrapped-to-small value would silently
          // prune history the caller asked to keep
          val hours = math.min(math.max(0L, in.getLong(1)),
            Long.MaxValue / 3600000L)
          val r = logFor(in.getUTF8String(0).toString)
            .maintain(hours * 3600000L)
          resultScan(maintainResult, Seq(new GenericInternalRow(Array[Any](
            r.checkpointVersion, r.manifestsPruned, r.filesVacuumed))))
        })
      case "materialize_mapping" => proc("materialize_mapping",
        Seq(p("table", StringType), pDefault("part_col", StringType, "''")),
        in => {
          val pc = Option(in.getUTF8String(1).toString).map(_.trim)
            .filter(_.nonEmpty)
          val v = logFor(in.getUTF8String(0).toString).materializeMapping(pc)
          resultScan(versionResult, Seq(new GenericInternalRow(Array[Any](v))))
        })
      case "clone" => proc("clone",
        Seq(p("table", StringType), p("target", StringType),
          pDefault("version", LongType, "-1")),
        in => {
          // SHALLOW CLONE as a catalog operation: fork the commit log
          // ([[CommitLog.cloneTo]] — zero data copied, absolute file
          // references) AND register the target as a catalog table by
          // mirroring the source's `_graft_table.json` (properties
          // carried — merge.partcol/merge.keys/constraints keep working
          // on the clone; schema mirrored from the CLONED snapshot so
          // the declared json never lags write-driven evolution).
          val srcTable = in.getUTF8String(0).toString
          val dstTable = in.getUTF8String(1).toString
          val verArg = in.getLong(2)
          val ver = if (verArg >= 0) Some(verArg) else None
          val spark = SparkSession.active
          val fs = new org.apache.hadoop.fs.Path(warehouse)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          def dir(t: String) = new org.apache.hadoop.fs.Path(
            (warehouse +: t.split('.').toSeq).mkString("/"))
          def meta(t: String) = new org.apache.hadoop.fs.Path(
            dir(t), "_graft_table.json")
          require(fs.exists(meta(srcTable)),
            s"procedure clone: no catalog table '$srcTable'")
          require(!fs.exists(meta(dstTable)),
            s"procedure clone: target table '$dstTable' already exists")
          val src = logFor(srcTable)
          src.cloneTo(dir(dstTable).toString, ver)
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val srcIn = fs.open(meta(srcTable))
          val raw = try {
            val bytes = new Array[Byte](
              fs.getFileStatus(meta(srcTable)).getLen.toInt)
            srcIn.readFully(bytes); new String(bytes, "UTF-8")
          } finally srcIn.close()
          val node = mapper.readTree(raw)
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          val clonedSch = CommitLog(spark, dir(dstTable).toString)
            .snapshot().schema
          clonedSch.foreach(sch => node.put("schema", sch.json))
          fs.mkdirs(dir(dstTable))
          val out = fs.create(meta(dstTable), false)
          try out.write(mapper.writeValueAsBytes(node)) finally out.close()
          resultScan(versionResult,
            Seq(new GenericInternalRow(Array[Any](0L))))
        })
      // r17: stats-only sum backfill — adopt `merge.sumstats` on an
      // EXISTING table by reading each uncovered live file once and
      // restating its stats in one commit ([[CommitLog.harvestSums]]);
      // no rewrite. columns = comma list, empty = the effective config.
      case "harvest_sums" => proc("harvest_sums",
        Seq(p("table", StringType), pDefault("columns", StringType, "''")),
        in => {
          val cs = in.getUTF8String(1).toString
          val colSeq = if (cs.isEmpty) Nil
            else cs.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val (v, n) = logFor(in.getUTF8String(0).toString)
            .harvestSums(colSeq)
          resultScan(StructType(Seq(
            StructField("version", LongType),
            StructField("files_harvested", IntegerType))),
            Seq(new GenericInternalRow(Array[Any](v, n))))
        })
      // r18: rewrite exactly the files still tagged under an OLDER
      // partition spec so partition-scoped ops re-admit after an
      // evolution ([[CommitLog.migrateSpec]]); idempotent, (v, 0) when
      // nothing is stale or the table never evolved.
      case "migrate_spec" => proc("migrate_spec",
        Seq(p("table", StringType)),
        in => {
          val (v, n) = logFor(in.getUTF8String(0).toString).migrateSpec()
          resultScan(StructType(Seq(
            StructField("version", LongType),
            StructField("files_migrated", IntegerType))),
            Seq(new GenericInternalRow(Array[Any](v, n))))
        })
      case "restore" => proc("restore",
        Seq(p("table", StringType), p("version", LongType)),
        in => resultScan(versionResult, Seq(new GenericInternalRow(Array[Any](
          logFor(in.getUTF8String(0).toString).restore(in.getLong(1)))))))
      case "detail" => proc("detail", Seq(p("table", StringType)),
        in => {
          // DESCRIBE DETAIL: one metadata-sized row from the folded
          // snapshot — version, live file/partition counts, total
          // data bytes (from the filesystem; absolute clone references
          // included), and whether a column mapping is active
          val log = logFor(in.getUTF8String(0).toString)
          val s = log.snapshot()
          val bytes = log.liveFileBytes()
          // r13: nested renames carry the mapping on struct-interior
          // fields — detect recursively
          val mapped = s.schema.exists(sch => sch.fields.exists(f =>
            f.metadata.contains(CommitLog.PhysKey)
              || !CommitLog.identityType(f.dataType)))
          val dvSidecars = s.dvs.valuesIterator.flatten.map(_.path).toSet.size
          val maskedRows = s.dvs.valuesIterator.flatten.map(_.count).sum
          // r14: the manifest's exact LIVE row count (footer-harvested
          // per-file counts minus DV cardinalities); null when any
          // live file predates row-count harvesting
          val numRows: Any =
            if (s.files.forall(s.rows.contains))
              s.files.iterator.map(f => s.liveRowCount(f).get).sum
            else null
          // r18: the partition-spec registry ("d0;d1;…" in id order —
          // last = current) and how many live files still carry tags
          // under an OLDER spec (0 = nothing for migrate_spec to do)
          val specReg: Any = if (s.specs.isEmpty) null
            else org.apache.spark.unsafe.types.UTF8String
              .fromString(s.specs.mkString(";"))
          val staleSpecFiles = if (s.specs.isEmpty) 0L
            else s.files.count(f => s.parts.contains(f)
              && s.specIdOf(f) != s.currentSpecId).toLong
          resultScan(StructType(Seq(
            StructField("version", LongType),
            StructField("num_files", LongType),
            StructField("num_rows", LongType),
            StructField("size_bytes", LongType),
            StructField("num_partitions", LongType),
            StructField("column_mapped", BooleanType),
            StructField("num_retired_physical", LongType),
            StructField("num_deletion_vectors", LongType),
            StructField("num_masked_rows", LongType),
            StructField("part_spec_registry", StringType),
            StructField("num_stale_spec_files", LongType))),
            Seq(new GenericInternalRow(Array[Any](
              s.version, s.files.size.toLong, numRows, bytes,
              s.parts.values.toSet.size.toLong, mapped,
              s.physRetired.size.toLong, dvSidecars.toLong, maskedRows,
              specReg, staleSpecFiles))))
        })
      case "history" => proc("history", Seq(p("table", StringType)),
        in => {
          // manifest-count-sized by construction (prune bounds it)
          val rows = logFor(in.getUTF8String(0).toString).history()
            .collect().toSeq.map { r =>
              new GenericInternalRow(Array[Any](
                r.getLong(0),
                if (r.isNullAt(1)) null else r.getLong(1),
                str(r.getString(2)),
                r.getBoolean(3),
                r.getLong(4),
                if (r.isNullAt(5)) null else str(r.getString(5)),
                if (r.isNullAt(6)) null else r.getLong(6))): InternalRow
            }
          resultScan(StructType(Seq(
            StructField("version", LongType), StructField("ts_millis", LongType),
            StructField("action", StringType), StructField("checkpoint", BooleanType),
            StructField("num_files", LongType), StructField("txn_id", StringType),
            StructField("txn_epoch", LongType))), rows)
        })
      case other => throw new IllegalArgumentException(
        s"unknown graft procedure '$other' (have: ${names.mkString(", ")})")
    }
  }

  private def proc(pname: String, params: Seq[ProcedureParameter],
      run: InternalRow => java.util.Iterator[Scan]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = pname
      override def description(): String = s"graft commit-log maintenance: $pname"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = pname
        override def description(): String = s"graft commit-log maintenance: $pname"
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = run(input)
      }
    }
}
