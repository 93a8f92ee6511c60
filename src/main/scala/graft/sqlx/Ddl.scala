package graft.sqlx

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, rpad}
import org.apache.spark.sql.types.StructType

/**
 * Connector DDL surface (SURVEY §1.3/§7.1 `sqlx/`): the reference's
 * `CREATE TABLE … WITH ('connector'=…) / computed columns / WATERMARK
 * FOR …` form (parser extension
 * `flink-sql-parser/.../parserImpls.ftl:569,849`) translated onto
 * Spark primitives — DataFrame reader (+ readStream), projection for
 * computed columns, `withWatermark`, temp-view registration. After
 * `Ddl.execute`, plain `spark.sql` queries the table; Catalyst owns
 * everything below.
 *
 * Supported grammar (one statement):
 * {{{
 * CREATE TABLE name (
 *   col TYPE, ...,
 *   comp AS <spark sql expr>, ...,
 *   WATERMARK FOR tscol AS tscol - INTERVAL '5' SECOND
 * ) WITH (
 *   'connector' = 'filesystem', 'path' = '...',
 *   'format' = 'parquet' | 'csv' | 'json',
 *   'scan.streaming' = 'true' | 'false',     -- default false
 *   'csv.header' = 'true' | 'false'
 * )
 * }}}
 */
object Ddl {

  final case class ColumnDef(name: String, typ: String)
  final case class ComputedDef(name: String, sqlExpr: String)
  /** `col TYPE METADATA [FROM 'key'] [VIRTUAL]` (reference
   * SqlTableColumn.SqlMetadataColumn, flink-sql-parser): a column
   * whose value comes from the connector's metadata — here the file
   * source's `_metadata` struct (file_name, file_path, file_size,
   * file_modification_time, …). Key defaults to the column name.
   * File metadata is read-only, so every declared metadata column
   * behaves as VIRTUAL on write (the reference's semantics for
   * non-writable metadata keys). */
  final case class MetadataDef(name: String, typ: String, key: String, virtual: Boolean)
  final case class WatermarkDef(column: String, delay: String)
  final case class TableDef(
      name: String,
      physical: Seq[ColumnDef],
      computed: Seq[ComputedDef],
      watermark: Option[WatermarkDef],
      options: Map[String, String],
      partitionedBy: Seq[String] = Nil,
      metadata: Seq[MetadataDef] = Nil,
      primaryKey: Seq[String] = Nil,
      // declared constraint name (`CONSTRAINT pk_x PRIMARY KEY …`) —
      // kept so SHOW CREATE TABLE round-trips it like the reference
      pkName: Option[String] = None,
      // Hive-dialect column DDL (reference SqlChangeColumn /
      // SqlAddReplaceColumns): declared-name (lowercase) → every PRIOR
      // storage name, newest first — files written between two renames
      // carry the intermediate name, so reads coalesce over the whole
      // history. schemaAltered switches register() to the
      // schema-evolution projection (missing columns → typed NULL,
      // retypes → cast) without touching the untouched-table fast path
      renames: Map[String, Seq[String]] = Map.empty,
      // declared-name (lowercase) → the storage name new INSERTs write
      // for that column, when it differs from the declared name. A
      // CHANGE/REPLACE retype starts a fresh storage GENERATION
      // (`name__gN`) so parquet never holds two physical types under
      // one storage name — mergeSchema across pre- and post-retype
      // files would otherwise fail and leave the table unreadable.
      storage: Map[String, String] = Map.empty,
      // every storage name (lowercase) that belonged to a column this
      // table has since dropped — old files still carry data under
      // those names, so ADD/CHANGE/REPLACE must never reintroduce
      // them (the stale values would silently surface on read)
      retired: Set[String] = Set.empty,
      schemaAltered: Boolean = false)

  // body is non-greedy so the optional PARTITIONED BY clause between
  // the column list and WITH is matched by ITS group, not swallowed
  // into the columns (backtracking settles on the split whose tail
  // parses; inner parens in column expressions still work)
  private val CreateRe =
    """(?is)\s*CREATE\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s*\((.*?)\)\s*(?:PARTITIONED\s+BY\s*\(([^)]*)\)\s*)?WITH\s*\((.*)\)\s*""".r
  private val WatermarkRe =
    """(?is)WATERMARK\s+FOR\s+([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+\1\s*-\s*INTERVAL\s+'(\d+)'\s+(\w+)""".r
  // general offset EXPRESSION form (reference grammar allows any
  // expression after AS; this engine's subset is `col - <constant
  // interval expr>`, the only shape Spark's withWatermark can carry) —
  // evaluated through the session at registration time
  private val WatermarkExprRe =
    """(?is)WATERMARK\s+FOR\s+([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+\1\s*-\s*(.+)""".r
  private val MetadataRe =
    """(?is)([A-Za-z_][A-Za-z0-9_]*)\s+([A-Za-z0-9_<>,() ]+?)\s+METADATA(?:\s+FROM\s+'([^']*)')?(?:\s+(VIRTUAL))?\s*""".r
  private val ComputedRe = """(?is)([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(.+)""".r
  // PRIMARY KEY constraint in the column list (reference
  // SqlTableConstraint: `[CONSTRAINT name] PRIMARY KEY (cols) NOT
  // ENFORCED`; the reference REJECTS enforced mode — so does this)
  private val PkRe =
    """(?is)(?:CONSTRAINT\s+([A-Za-z_][A-Za-z0-9_]*)\s+)?PRIMARY\s+KEY\s*\(([^)]*)\)\s*(NOT\s+ENFORCED)?\s*""".r
  private val PhysicalRe = """(?is)([A-Za-z_][A-Za-z0-9_]*)\s+([A-Za-z0-9_<>,() ]+)""".r
  private val OptionRe = """'([^']*)'\s*=\s*'([^']*)'""".r
  private val CharRe = """(?i)^\s*CHAR(?:ACTER)?\s*\(\s*(\d+)\s*\)\s*$""".r

  /** Split on commas not nested inside parentheses — and not inside
   * string literals ([[SqlLexer.splitTop]]), so a computed-column
   * expression like `concat(a, 'x,y')` cannot mis-split. */
  private def splitTop(s: String): Seq[String] = SqlLexer.splitTop(s)

  /** Re-join splitTop fragments cut INSIDE a generic type argument
   * list (`ROW<a INT, b STRING>` — the lexer tracks parens/quotes, not
   * angle brackets): a fragment with more '<' than '>' is an open
   * generic and absorbs the next fragment. Computed/watermark clauses
   * are exempt (their generics sit inside CAST(...) parens, already
   * comma-protected; a bare `x < y` comparison must not absorb). */
  private def joinGenericSplits(parts: Seq[String]): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var cur: String = null
    def open(s: String): Boolean =
      s.count(_ == '<') > s.count(_ == '>') &&
        !"""(?is).*\bAS\b.*""".r.matches(s)
    parts.foreach { p =>
      cur = if (cur == null) p else cur + ", " + p
      if (!open(cur)) { out += cur; cur = null }
    }
    if (cur != null) out += cur
    out.toSeq
  }

  /** Reference type names → Spark type text (recursively, inside
   * ARRAY/MAP/ROW nesting): the reference's `TIMESTAMP(p)` is
   * WITHOUT time zone (→ TIMESTAMP_NTZ), `TIMESTAMP_LTZ(p)` /
   * `TIMESTAMP(p) WITH LOCAL TIME ZONE` is the instant type
   * (→ TIMESTAMP), `ROW<…>` is Spark's STRUCT, and `MULTISET<T>` maps
   * to the COLLECT count-map convention MAP<T, INT>
   * (`functions/Multiset.scala`). Types Spark already accepts —
   * CHAR(n) (padded on read), DECIMAL(p,s) — pass through untouched.
   *
   * Bare TIMESTAMP also maps to TIMESTAMP_NTZ: in the reference,
   * TIMESTAMP ≡ TIMESTAMP(6) ≡ WITHOUT time zone, so identical
   * reference DDL must yield the same Spark type whether or not the
   * precision is spelled (in a non-UTC session, Spark's session-tz
   * TIMESTAMP would otherwise shift the values). */
  private[sqlx] def normalizeType(typ0: String): String = {
    var t = typ0.trim
    // LTZ forms first, via a placeholder so the bare-TIMESTAMP rule
    // below can't re-capture them
    t = """(?i)TIMESTAMP\s*\(\s*\d+\s*\)\s*WITH\s+LOCAL\s+TIME\s+ZONE""".r
      .replaceAllIn(t, "@LTZ@")
    t = """(?i)TIMESTAMP\s+WITH\s+LOCAL\s+TIME\s+ZONE""".r.replaceAllIn(t, "@LTZ@")
    t = """(?i)TIMESTAMP_LTZ\s*(\(\s*\d+\s*\))?""".r.replaceAllIn(t, "@LTZ@")
    t = """(?i)TIMESTAMP\s*\(\s*\d+\s*\)""".r.replaceAllIn(t, "TIMESTAMP_NTZ")
    // \bTIMESTAMP\b skips TIMESTAMP_NTZ ('_' is a word character)
    t = """(?i)\bTIMESTAMP\b""".r.replaceAllIn(t, "TIMESTAMP_NTZ")
    t = t.replace("@LTZ@", "TIMESTAMP")
    t = """(?i)\bROW\s*<""".r.replaceAllIn(t, "STRUCT<")
    var i = t.toUpperCase.indexOf("MULTISET<")
    while (i >= 0) {
      val start = i + "MULTISET<".length
      var depth = 1
      var j = start
      while (depth > 0 && j < t.length) {
        val c = t(j)
        if (c == '<') depth += 1 else if (c == '>') depth -= 1
        j += 1
      }
      require(depth == 0, s"unbalanced MULTISET type: $typ0")
      val inner = t.substring(start, j - 1)
      t = t.substring(0, i) + s"MAP<$inner, INT>" + t.substring(j)
      i = t.toUpperCase.indexOf("MULTISET<")
    }
    t
  }

  /** Parse a column-list body into (physical, computed, metadata,
   * watermark, primaryKey, pkName). */
  private def parseBody(body: String):
      (Vector[ColumnDef], Vector[ComputedDef], Vector[MetadataDef],
        Option[WatermarkDef], Seq[String], Option[String]) = {
    var physical = Vector.empty[ColumnDef]
    var computed = Vector.empty[ComputedDef]
    var metadata = Vector.empty[MetadataDef]
    var watermark: Option[WatermarkDef] = None
    var primaryKey: Seq[String] = Nil
    var pkName: Option[String] = None
    joinGenericSplits(splitTop(body)).foreach {
      case WatermarkRe(c, n, unit) => watermark = Some(WatermarkDef(c, s"$n $unit"))
      case WatermarkExprRe(c, e) => watermark = Some(WatermarkDef(c, "expr:" + e.trim))
      case PkRe(cname, cols, notEnforced) =>
        // the reference rejects enforced primary keys on connector
        // tables (it cannot guarantee them) — same loud contract here
        require(notEnforced != null,
          "PRIMARY KEY must be declared NOT ENFORCED (enforced mode is not supported)")
        require(primaryKey.isEmpty, "duplicate PRIMARY KEY constraint")
        primaryKey = splitTop(cols).map(_.trim).filter(_.nonEmpty)
        require(primaryKey.nonEmpty, "PRIMARY KEY needs at least one column")
        pkName = Option(cname)
      case MetadataRe(n, t, key, virt) => metadata :+= MetadataDef(
        n, normalizeType(t), Option(key).getOrElse(n), virt != null)
      case ComputedRe(n, e) => computed :+= ComputedDef(n, e.trim) // has AS → computed
      case PhysicalRe(n, t) => physical :+= ColumnDef(n, normalizeType(t))
      case other => throw new IllegalArgumentException(s"cannot parse column clause: '$other'")
    }
    (physical, computed, metadata, watermark, primaryKey, pkName)
  }

  private def parseOptions(opts: String): Map[String, String] =
    OptionRe.findAllMatchIn(opts).map(m => m.group(1) -> m.group(2)).toMap

  private val PartSpecItemRe =
    """(?s)\s*([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(?:'([^']*)'|([^,\s']+))\s*""".r
  /** Parse `k1 = 'v1', k2 = 2` into declared-order pairs. Keys must be
   * a PREFIX of the table's PARTITIONED BY order (the directory layout
   * is hierarchical, so only a prefix names a directory); `requireFull`
   * demands the complete spec (ADD creates one leaf partition). */
  private def parsePartitionSpec(
      t: TableDef, spec: String, requireFull: Boolean): Seq[(String, String)] = {
    require(t.partitionedBy.nonEmpty, s"table ${t.name} is not partitioned")
    val pairs: Seq[(String, String)] = splitTop(spec).map {
      case PartSpecItemRe(k, q, raw) => k -> Option(q).getOrElse(raw)
      case other =>
        throw new IllegalArgumentException(s"cannot parse partition spec item: '$other'")
    }
    val declaredPrefix = t.partitionedBy.take(pairs.length).map(_.toLowerCase)
    require(pairs.map(_._1.toLowerCase) == declaredPrefix,
      s"partition spec (${pairs.map(_._1).mkString(", ")}) must follow the " +
        s"declared partition order (${t.partitionedBy.mkString(", ")})")
    if (requireFull) require(pairs.length == t.partitionedBy.length,
      s"ADD PARTITION needs the full spec (${t.partitionedBy.mkString(", ")})")
    pairs
  }

  // Hive-style partition-path escaping (the character set Spark's
  // ExternalCatalogUtils.escapePathName / Hive's FileUtils use): Spark
  // writes `dt=2021%2F01` for value `2021/01`, so ADD/DROP must build
  // the SAME directory name or DROP silently prunes nothing.
  private val partEscapeChars: Set[Char] =
    ((1 to 31).map(_.toChar) ++ "\u007F\"#%'*/:=?\\{[]^").toSet
  private def escapePartValue(v: String): String =
    v.flatMap { c =>
      if (partEscapeChars(c)) f"%%${c.toInt}%02X" else c.toString
    }

  def parse(ddl: String): TableDef = ddl match {
    case CreateRe(name, body, partBy, opts) =>
      val (physical, computed, metadata, watermark, pk, pkName) = parseBody(body)
      val options = parseOptions(opts)
      // PARTITIONED BY (reference `SqlCreateTable` partition-key list,
      // `parserImpls.ftl`): keys must be declared physical columns
      val parts = Option(partBy).toSeq.flatMap(splitTop(_)).map(_.trim)
      parts.foreach { p =>
        require(physical.exists(_.name.equalsIgnoreCase(p)),
          s"PARTITIONED BY column '$p' is not a declared physical column")
      }
      pk.foreach { p =>
        require(physical.exists(_.name.equalsIgnoreCase(p)),
          s"PRIMARY KEY column '$p' is not a declared physical column")
      }
      TableDef(name, physical, computed, watermark, options, parts, metadata, pk, pkName)
    case _ => throw new IllegalArgumentException("expected CREATE TABLE … ( … ) WITH ( … )")
  }

  private val CreateViewRe =
    """(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?VIEW\s+([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(.*)""".r
  private val StatementSetRe =
    """(?is)\s*EXECUTE\s+STATEMENT\s+SET\s+BEGIN\s+(.*)\bEND\s*;?\s*""".r
  private val InsertRe =
    """(?is)\s*INSERT\s+(INTO|OVERWRITE)\s+([A-Za-z_][A-Za-z0-9_]*)\s+(.*)""".r
  private val ShowTablesRe = """(?is)\s*SHOW\s+TABLES\s*;?\s*""".r
  private val ShowViewsRe = """(?is)\s*SHOW\s+VIEWS\s*;?\s*""".r
  private val DescribeRe =
    """(?is)\s*DESC(?:RIBE)?\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val ExplainRe = """(?is)\s*EXPLAIN\s+(?:PLAN\s+FOR\s+)?(.+)""".r
  private val DropTableRe =
    """(?is)\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val DropViewRe =
    """(?is)\s*DROP\s+(?:TEMPORARY\s+)?VIEW\s+(IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val CreateFunctionRe =
    """(?is)\s*CREATE\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+'([^']+)'\s*;?\s*""".r
  private val IntrospectionShaped =
    """(?is)\s*(SHOW|DESC(?:RIBE)?|EXPLAIN|DROP)\b.*""".r
  // CREATE TABLE derived [(extra cols)] [WITH (opts)] LIKE base [(features)]
  // (reference SqlTableLike, FLIP-110)
  private val CreateLikeRe =
    """(?is)\s*CREATE\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s*(?:\((.*?)\)\s*)?(?:WITH\s*\((.*?)\)\s*)?LIKE\s+([A-Za-z_][A-Za-z0-9_]*)\s*(?:\(([^)]*)\))?\s*;?\s*""".r
  private val SetRe = """(?is)\s*SET\s+'([^']+)'\s*=\s*'([^']*)'\s*;?\s*""".r
  private val ResetRe = """(?is)\s*RESET\s+'([^']+)'\s*;?\s*""".r
  private val ShowCreateRe =
    """(?is)\s*SHOW\s+CREATE\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val AlterRenameRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s+RENAME\s+TO\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val AlterSetRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s+SET\s*\((.*)\)\s*;?\s*""".r
  private val AlterResetRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s+RESET\s*\(([^)]*)\)\s*;?\s*""".r
  // Catalog / database statements (reference SqlCreateCatalog,
  // SqlUseCatalog, SqlCreateDatabase, SqlUseDatabase, SqlShowCatalogs,
  // SqlShowDatabases, SqlShowCurrentCatalog/Database, SqlDropFunction
  // in flink-sql-parser parserImpls.ftl)
  private val CreateCatalogRe =
    """(?is)\s*CREATE\s+CATALOG\s+([A-Za-z_][A-Za-z0-9_]*)\s*(?:WITH\s*\((.*)\))?\s*;?\s*""".r
  private val DropCatalogRe =
    """(?is)\s*DROP\s+CATALOG\s+(IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val CreateDatabaseRe =
    """(?is)\s*CREATE\s+DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val DropDatabaseRe =
    """(?is)\s*DROP\s+DATABASE\s+(IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*(RESTRICT|CASCADE)?\s*;?\s*""".r
  private val UseCatalogRe =
    """(?is)\s*USE\s+CATALOG\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val UseDbRe = """(?is)\s*USE\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val ShowCatalogsRe = """(?is)\s*SHOW\s+CATALOGS\s*;?\s*""".r
  private val ShowDatabasesRe = """(?is)\s*SHOW\s+DATABASES\s*;?\s*""".r
  private val ShowCurrentCatalogRe = """(?is)\s*SHOW\s+CURRENT\s+CATALOG\s*;?\s*""".r
  private val ShowCurrentDatabaseRe = """(?is)\s*SHOW\s+CURRENT\s+DATABASE\s*;?\s*""".r
  // Module statements (reference SqlShowModules / SqlLoadModule /
  // SqlUnloadModule, FLIP-68): the engine's one module is `core` —
  // the graft function catalog (GraftFunctions.builders). UNLOAD
  // genuinely drops those functions from the session registry; LOAD
  // re-registers them. USE MODULES (resolution reordering) is not
  // routed — with a single module there is no order to change.
  private val ShowModulesRe = """(?is)\s*SHOW\s+(FULL\s+)?MODULES\s*;?\s*""".r
  private val ShowFunctionsRe = """(?is)\s*SHOW\s+(USER\s+)?FUNCTIONS\s*;?\s*""".r
  private val ShowPartitionsRe =
    """(?is)\s*SHOW\s+PARTITIONS\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val DescCatalogRe =
    """(?is)\s*DESC(?:RIBE)?\s+CATALOG\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val DescDatabaseRe =
    """(?is)\s*DESC(?:RIBE)?\s+DATABASE\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  // ALTER TABLE … ADD/DROP PARTITION (reference SqlAddPartitions /
  // SqlDropPartitions, parserImpls.ftl — Hive-style partition DDL on a
  // PARTITIONED BY filesystem table): ADD registers/creates the
  // partition directory, DROP prunes it (directory delete)
  private val AlterAddPartRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s+ADD\s+(IF\s+NOT\s+EXISTS\s+)?PARTITION\s*\(([^)]*)\)\s*;?\s*""".r
  private val AlterDropPartRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s+DROP\s+(IF\s+EXISTS\s+)?PARTITION\s*\(([^)]*)\)\s*;?\s*""".r
  private val AlterAddPkRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s+ADD\s+((?:CONSTRAINT\s+[A-Za-z_][A-Za-z0-9_]*\s+)?PRIMARY\s+KEY\s*\([^)]*\)\s*(?:NOT\s+ENFORCED)?)\s*;?\s*""".r
  private val AlterDropConstraintRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s+DROP\s+(?:CONSTRAINT\s+[A-Za-z_][A-Za-z0-9_]*|PRIMARY\s+KEY)\s*;?\s*""".r
  // Hive-dialect residual column DDL (reference SqlAddReplaceColumns /
  // SqlChangeColumn, flink-sql-parser-hive — the reference parses these
  // but its generic in-memory catalog rejects them; this catalog
  // executes them): ADD appends nullable columns (pre-existing files
  // read NULL), REPLACE swaps the full column list, CHANGE renames /
  // retypes / repositions one column. Each accepts an optional
  // trailing COMMENT per column, which is parsed and dropped.
  private val AlterAddColsRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s+ADD\s+COLUMNS\s*\((.*)\)\s*;?\s*""".r
  private val AlterReplaceColsRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s+REPLACE\s+COLUMNS\s*\((.*)\)\s*;?\s*""".r
  private val AlterChangeColRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s+CHANGE\s+(?:COLUMN\s+)?([A-Za-z_][A-Za-z0-9_]*)\s+([A-Za-z_][A-Za-z0-9_]*)\s+([A-Za-z0-9_<>,() ]+?)(?:\s+COMMENT\s+'[^']*')?\s*(FIRST|AFTER\s+[A-Za-z_][A-Za-z0-9_]*)?\s*;?\s*""".r
  // Jar resources (reference SqlAddJar/SqlRemoveJar/SqlShowJars,
  // FLIP-214): ADD ships the jar to the executors via SparkContext;
  // REMOVE unregisters it for future statements (like the reference,
  // classes already loaded stay loaded until the session ends)
  private val AddJarRe = """(?is)\s*ADD\s+JAR\s+'([^']+)'\s*;?\s*""".r
  private val RemoveJarRe = """(?is)\s*REMOVE\s+JAR\s+'([^']+)'\s*;?\s*""".r
  private val ShowJarsRe = """(?is)\s*SHOW\s+JARS\s*;?\s*""".r
  // USE MODULES m1[, m2 …] (reference SqlUseModules, FLIP-68): declares
  // the resolution order AND the enabled subset — a loaded module left
  // off the list stays loaded but stops resolving functions
  private val UseModulesRe =
    """(?is)\s*USE\s+MODULES\s+([A-Za-z_][A-Za-z0-9_]*(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*)*)\s*;?\s*""".r
  private val LoadModuleRe =
    """(?is)\s*LOAD\s+MODULE\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val UnloadModuleRe =
    """(?is)\s*UNLOAD\s+MODULE\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val AlterFunctionRe =
    """(?is)\s*ALTER\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+(IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+'([^']+)'\s*;?\s*""".r
  private val AlterDatabaseRe =
    """(?is)\s*ALTER\s+DATABASE\s+([A-Za-z_][A-Za-z0-9_]*)\s+SET\s*\((.*)\)\s*;?\s*""".r
  private val AlterViewRenameRe =
    """(?is)\s*ALTER\s+VIEW\s+([A-Za-z_][A-Za-z0-9_]*)\s+RENAME\s+TO\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val AlterViewAsRe =
    """(?is)\s*ALTER\s+VIEW\s+([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(.*)""".r
  private val DropFunctionRe =
    """(?is)\s*DROP\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+(IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r

  private def isDeclared(spark: SparkSession, name: String): Boolean =
    declared.contains((sessionKey(spark), name))

  /** Connector tables declared this session, so `INSERT INTO` can
   * resolve a target's path/format. Keyed by session identity — two
   * sessions declaring the same name never collide. */
  private val declared =
    new scala.collection.concurrent.TrieMap[(String, String), TableDef]

  /** Views created through this front-end, for SHOW TABLES/VIEWS. */
  private val declaredViews =
    new scala.collection.concurrent.TrieMap[(String, String), String]

  /** Catalog registry (reference GenericInMemoryCatalog + the USE
   * statements): catalogs → database sets per session; the CURRENT
   * (catalog, database) resolves unqualified names — CREATE TABLE
   * files its definition under the current database, and USE switches
   * which namespace's tables are registered as session temp views
   * (the reference's unqualified-name resolution; qualified
   * `cat.db.t` references in queries are not routed). The built-in
   * `default_catalog.default_database` matches the reference's
   * TableEnvironment defaults; user catalogs get the
   * GenericInMemoryCatalog default database `default`. */
  private val catalogs =
    new scala.collection.concurrent.TrieMap[(String, String), scala.collection.mutable.Set[String]]
  private val currentNs =
    new scala.collection.concurrent.TrieMap[String, (String, String)]
  private val catalogStore =
    new scala.collection.concurrent.TrieMap[(String, String, String, String), TableDef]

  // Partitions registered via ALTER TABLE ADD PARTITION — SHOW
  // PARTITIONS lists them even while empty (a catalog-registered
  // partition with no data yet, as in Hive-style catalogs). The
  // registration IS the partition directory ADD PARTITION creates:
  // deriving the registered set from the storage directory makes it
  // durable across sessions AND processes (external-table semantics —
  // a new engine instance re-declaring the table over the same path
  // sees every registered partition), with no side metadata to lose.
  private def diskPartitions(t: TableDef): Set[String] = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    t.options.get("path").map(Paths.get(_)) match {
      case Some(root) if Files.isDirectory(root) && t.partitionedBy.nonEmpty =>
        def walk(dir: Path, keys: Seq[String]): Seq[String] = keys match {
          case Seq() => Seq("")
          case k +: rest =>
            val s = Files.list(dir)
            val kids = try s.iterator().asScala.toVector finally s.close()
            kids.filter(p => Files.isDirectory(p) &&
                p.getFileName.toString.toLowerCase.startsWith(k.toLowerCase + "="))
              .flatMap { p =>
                val v = unescapePartValue(p.getFileName.toString.drop(k.length + 1))
                walk(p, rest).map(tail =>
                  if (tail.isEmpty) s"$k=$v" else s"$k=$v/$tail")
              }
        }
        walk(root, t.partitionedBy).toSet
      case _ => Set.empty
    }
  }
  /** Inverse of [[escapePartValue]] (Hive %XX escapes). */
  private def unescapePartValue(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def ensureDefaults(sk: String): Unit =
    catalogs.getOrElseUpdate((sk, "default_catalog"),
      scala.collection.mutable.Set("default_database"))
  private def currentOf(sk: String): (String, String) = {
    ensureDefaults(sk)
    currentNs.getOrElse(sk, ("default_catalog", "default_database"))
  }
  /** File a table definition under the session's current namespace. */
  /** Column DDL applies to batch parquet filesystem tables — the one
   * storage whose name-based column resolution makes add/replace/
   * rename safe as pure metadata. */
  private def requireEvolvable(t: TableDef, stmt: String): Unit = {
    require(!t.options.get("connector").contains("jdbc") &&
      t.options.getOrElse("format", "parquet") == "parquet",
      s"$stmt: only parquet filesystem tables support column DDL")
    require(!t.options.get("scan.streaming").contains("true"),
      s"$stmt: not supported on a streaming table")
  }

  /** The storage name new writes use for a declared column (the
   * declared name itself unless a retype started a new generation). */
  private def storageName(t: TableDef, declared: String): String =
    t.storage.getOrElse(declared.toLowerCase, declared)

  /** Every storage name (lowercase) some existing file may carry for a
   * column OTHER than `exceptOwn` — names a new/renamed column must
   * not take, or pre-existing files' data for the old column would
   * silently surface under the new one. `exceptOwn` (a declared name)
   * keeps rename-back legal: a column may reclaim a name from its OWN
   * history, which is the same logical column in every file. */
  private def reservedStorageNames(t: TableDef, exceptOwn: Option[String]): Set[String] = {
    val all = t.retired ++
      t.renames.valuesIterator.flatten.map(_.toLowerCase) ++
      t.storage.valuesIterator.map(_.toLowerCase)
    exceptOwn match {
      case None => all
      case Some(own) =>
        val key = own.toLowerCase
        all -- t.renames.getOrElse(key, Nil).map(_.toLowerCase) -
          storageName(t, own).toLowerCase
    }
  }

  private def requireUnreserved(t: TableDef, stmt: String, name: String,
      exceptOwn: Option[String] = None): Unit =
    require(!reservedStorageNames(t, exceptOwn).contains(name.toLowerCase),
      s"$stmt: name '$name' was a storage name of a previous column — " +
        "existing files still carry that column's data under it; pick a fresh name")

  /** A fresh storage name for a retyped column: `declared__gN`, N past
   * every name already reserved on this table. */
  private def freshStorage(t: TableDef, declared: String): String = {
    val taken = reservedStorageNames(t, None) ++
      t.physical.map(_.name.toLowerCase)
    Iterator.from(1).map(i => s"${declared}__g$i")
      .find(n => !taken.contains(n.toLowerCase)).get
  }

  /** Parse `name TYPE [COMMENT '…']` column lists (ADD/REPLACE
   * COLUMNS bodies — no computed/metadata/watermark clauses here,
   * matching the reference's Hive-dialect grammar). */
  private def parseBareColumns(body: String, stmt: String): Seq[ColumnDef] =
    joinGenericSplits(splitTop(body)).map(_.trim).filter(_.nonEmpty).map { c =>
      val noComment = """(?is)\s+COMMENT\s+'[^']*'\s*$""".r.replaceAllIn(c, "")
      noComment match {
        case PhysicalRe(n, typ) => ColumnDef(n, normalizeType(typ.trim))
        case other => throw new IllegalArgumentException(
          s"$stmt: cannot parse column '$other'")
      }
    }

  private def fileTable(sk: String, name: String, t: TableDef): Unit = {
    val (c, d) = currentOf(sk)
    catalogStore.put((sk, c, d, name), t)
  }
  private def unfileTable(sk: String, name: String): Unit = {
    val (c, d) = currentOf(sk)
    catalogStore.remove((sk, c, d, name))
  }
  private def switchTo(spark: SparkSession, cat: String, db: String): Unit = {
    val sk = sessionKey(spark)
    val (oldCat, oldDb) = currentOf(sk)
    if ((oldCat, oldDb) != (cat, db)) {
      catalogStore.keys.filter(k => k._1 == sk && k._2 == oldCat && k._3 == oldDb)
        .foreach { k =>
          declared.remove((sk, k._4)); spark.catalog.dropTempView(k._4)
        }
      currentNs.put(sk, (cat, db))
      catalogStore.filter { case (k, _) => k._1 == sk && k._2 == cat && k._3 == db }
        .foreach { case (k, t) =>
          declared.put((sk, k._4), t)
          // a table whose storage vanished since filing must not make
          // USE itself fail — it resurfaces loudly on first query
          try register(spark, t)
          catch { case e: Throwable =>
            System.err.println(s"[ddl] USE: re-register ${k._4} failed: ${e.getMessage}")
          }
        }
    }
  }
  /** Database properties set via ALTER DATABASE (reference
   * SqlAlterDatabase / CatalogDatabase.getProperties) — read back
   * programmatically via [[databaseProps]], the catalog-API analog. */
  private val dbProps =
    new scala.collection.concurrent.TrieMap[(String, String, String), Map[String, String]]

  /** Names registered via CREATE FUNCTION, per session — the "user"
   * half of SHOW [USER] FUNCTIONS (reference ShowFunctionsOperation
   * FunctionScope.USER). */
  private val userFns =
    new scala.collection.concurrent.TrieMap[String, scala.collection.mutable.Set[String]]

  /** The catalog-API read path for ALTER DATABASE properties
   * (reference Catalog.getDatabase(db).getProperties). */
  def databaseProps(spark: SparkSession, db: String): Map[String, String] = {
    val sk = sessionKey(spark)
    dbProps.getOrElse((sk, currentOf(sk)._1, db), Map.empty)
  }

  /** Sessions whose `core` module has been UNLOADed. */
  private val coreUnloaded =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Jars registered via ADD JAR, insertion-ordered per session
   * (reference ResourceManager's jar registry backing SHOW JARS). */
  private val sessionJars =
    new scala.collection.concurrent.TrieMap[String, Vector[String]]

  private def dropCoreFns(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    graft.functions.GraftFunctions.builders.foreach { case (n, _) =>
      reg.dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(n))
    }
  }

  private def oneCol(spark: SparkSession, colName: String, vals: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    // the reference's result columns contain spaces ("catalog name") —
    // build the schema directly rather than through DDL text
    spark.createDataFrame(
      vals.map(v => org.apache.spark.sql.Row(v)).asJava,
      StructType(Seq(org.apache.spark.sql.types.StructField(
        colName, org.apache.spark.sql.types.StringType))))
  }

  private def sessionKey(spark: SparkSession): String =
    System.identityHashCode(spark).toString

  /** Execute the DDL: build the (possibly streaming) DataFrame, apply
   * computed columns and watermark, register the temp view; returns the
   * frame. `CREATE [OR REPLACE] [TEMPORARY] VIEW name AS query`
   * (reference `SqlCreateView`, `parserImpls.ftl`) registers the query
   * as a temp view over previously declared tables.
   *
   * `EXECUTE STATEMENT SET BEGIN INSERT INTO t1 …; INSERT INTO t2 …; END`
   * (reference `SqlStatementSet` in `parserImpls.ftl` /
   * `TableEnvironment.createStatementSet`) runs every INSERT against
   * declared connector tables and returns a (sink, rows) summary —
   * batch only; streaming fan-out is `streaming/MultiSink` (the batch
   * common-subplan analog is `FrameCache`). Each target view is
   * re-registered after its insert so subsequent queries see the new
   * files, like the reference's catalog tables always reflecting
   * storage. */
  def execute(spark: SparkSession, ddl: String): DataFrame = {
    ddl match {
      case CreateViewRe(name, query) =>
        val df = spark.sql(query)
        df.createOrReplaceTempView(name)
        declaredViews.put((sessionKey(spark), name), query.trim)
        return df
      case StatementSetRe(body) =>
        return statementSet(spark, body)
      // a bare INSERT INTO is a one-statement set (reference: plain
      // `tEnv.executeSql("INSERT INTO …")` outside a statement set)
      case InsertRe(_, _, _) =>
        return statementSet(spark, ddl)
      case ShowTablesRe() => return showTables(spark, viewsOnly = false)
      case ShowViewsRe() => return showTables(spark, viewsOnly = true)
      case DescribeRe(name) if isDeclared(spark, name) =>
        return describe(spark, name)
      // DROP TABLE / DROP VIEW (reference SqlDropTable/SqlDropView):
      // front-end-declared names leave both the registry and the
      // session catalog; anything else (qualified names, temp views
      // created outside this front-end) falls through to Spark's own
      // DROP below, which also owns the IF EXISTS / unknown-name errors
      // external-table semantics: DROP leaves the storage directory —
      // and with it any registered partitions — untouched
      case DropTableRe(_, name) if declared.contains((sessionKey(spark), name)) =>
        declared.remove((sessionKey(spark), name))
        unfileTable(sessionKey(spark), name)
        spark.catalog.dropTempView(name)
        return ok(spark)
      case DropViewRe(_, name) if declaredViews.contains((sessionKey(spark), name)) =>
        declaredViews.remove((sessionKey(spark), name))
        spark.catalog.dropTempView(name)
        return ok(spark)
      // CREATE FUNCTION name AS 'class' (reference SqlCreateFunction):
      // reflective eval discovery, registered for SQL use
      case CreateFunctionRe(name, className) =>
        graft.api.Udfs.registerReflective(spark, name, className)
        userFns.getOrElseUpdate(sessionKey(spark),
          scala.collection.mutable.Set.empty) += name.toLowerCase
        return ok(spark)
      // CREATE TABLE … LIKE base (reference SqlTableLike, FLIP-110):
      // derive a definition from a declared base with merge strategies.
      // Default INCLUDING ALL; duplicate options error unless
      // OVERWRITING OPTIONS; EXCLUDING OPTIONS/WATERMARKS/GENERATED
      // drop those base features; extra columns append.
      case CreateLikeRe(name, colsOpt, optsOpt, base, features) =>
        val b = declared.getOrElse((sessionKey(spark), base),
          throw new IllegalArgumentException(
            s"CREATE TABLE $name LIKE $base: '$base' is not a declared connector table"))
        val feats = Option(features).toSeq.flatMap(splitTop(_))
          .map(_.trim.toUpperCase.replaceAll("\\s+", " "))
        feats.foreach { f =>
          require(Set("INCLUDING ALL", "EXCLUDING OPTIONS", "EXCLUDING WATERMARKS",
            "EXCLUDING GENERATED", "OVERWRITING OPTIONS", "OVERWRITING WATERMARKS",
            "INCLUDING GENERATED", "INCLUDING OPTIONS", "INCLUDING WATERMARKS")(f),
            s"unsupported LIKE feature: $f")
        }
        val baseOptions = if (feats.contains("EXCLUDING OPTIONS")) Map.empty[String, String]
          else b.options
        val baseComputed = if (feats.contains("EXCLUDING GENERATED")) Vector.empty[ComputedDef]
          else b.computed.toVector
        val baseWm = if (feats.contains("EXCLUDING WATERMARKS")) None else b.watermark
        val (extraPhys, extraComp, extraMeta, extraWm, extraPk, extraPkName) =
          Option(colsOpt).map(parseBody).getOrElse(
            (Vector.empty, Vector.empty, Vector.empty, None, Nil, None))
        extraPhys.foreach { c =>
          require(!b.physical.exists(_.name.equalsIgnoreCase(c.name)),
            s"LIKE: column '${c.name}' already exists in '$base'")
        }
        val newOpts = Option(optsOpt).map(parseOptions).getOrElse(Map.empty)
        if (!feats.contains("OVERWRITING OPTIONS")) {
          val dup = newOpts.keySet.intersect(baseOptions.keySet)
          require(dup.isEmpty,
            s"LIKE: duplicate options $dup — add (OVERWRITING OPTIONS) to override")
        }
        val wm = extraWm.orElse(baseWm)
        if (extraWm.isDefined && baseWm.isDefined)
          require(feats.contains("OVERWRITING WATERMARKS") ||
            feats.contains("EXCLUDING WATERMARKS"),
            "LIKE: base already defines a watermark — add (OVERWRITING WATERMARKS)")
        val t = TableDef(name, b.physical ++ extraPhys, baseComputed ++ extraComp,
          wm, baseOptions ++ newOpts, b.partitionedBy, b.metadata ++ extraMeta,
          if (extraPk.nonEmpty) extraPk else b.primaryKey,
          if (extraPk.nonEmpty) extraPkName else b.pkName)
        declared.put((sessionKey(spark), name), t)
        fileTable(sessionKey(spark), name, t)
        return register(spark, t)
      // SHOW CREATE TABLE (reference SqlShowCreateTable): reconstruct
      // the declared DDL — Ddl.parse round-trips the emitted text.
      case ShowCreateRe(name) if isDeclared(spark, name) =>
        val t = declared((sessionKey(spark), name))
        return spark.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(name, showCreate(t))),
          StructType.fromDDL("table STRING, ddl STRING"))
      // ALTER TABLE … RENAME TO (reference SqlAlterTableRename)
      case AlterRenameRe(from, to) if isDeclared(spark, from) =>
        val t = declared.remove((sessionKey(spark), from)).get
        spark.catalog.dropTempView(from)
        unfileTable(sessionKey(spark), from)
        val renamed = t.copy(name = to)
        declared.put((sessionKey(spark), to), renamed)
        fileTable(sessionKey(spark), to, renamed)
        return register(spark, renamed)
      // ALTER TABLE … SET ('k'='v') (reference SqlAlterTableOptions):
      // merge-override options and re-register (a changed 'path'
      // re-resolves storage, like the reference's catalog alteration)
      case AlterSetRe(name, opts) if isDeclared(spark, name) =>
        val t = declared((sessionKey(spark), name))
        val altered = t.copy(options = t.options ++ parseOptions(opts))
        declared.put((sessionKey(spark), name), altered)
        fileTable(sessionKey(spark), name, altered)
        return register(spark, altered)
      // ALTER TABLE … RESET ('k') (reference SqlAlterTableReset)
      case AlterResetRe(name, keys) if isDeclared(spark, name) =>
        val t = declared((sessionKey(spark), name))
        val drop = splitTop(keys).map(_.trim.stripPrefix("'").stripSuffix("'"))
        require(!drop.exists(_.equalsIgnoreCase("path")),
          "ALTER TABLE RESET: 'path' cannot be reset (the reference likewise " +
          "forbids resetting the connector identity)")
        val altered = t.copy(options = t.options -- drop)
        declared.put((sessionKey(spark), name), altered)
        fileTable(sessionKey(spark), name, altered)
        return register(spark, altered)
      // Catalog / database lifecycle (reference SqlCreateCatalog /
      // GenericInMemoryCatalog, SqlUseCatalog/SqlUseDatabase,
      // SqlShowCatalogs/Databases/Current*): see the registry scaladoc
      case CreateCatalogRe(name, opts) =>
        val sk = sessionKey(spark); ensureDefaults(sk)
        val typ = Option(opts).map(parseOptions).getOrElse(Map.empty)
          .getOrElse("type", "generic_in_memory")
        require(typ == "generic_in_memory",
          s"CREATE CATALOG: unsupported catalog type '$typ' (generic_in_memory only)")
        require(!catalogs.contains((sk, name)), s"catalog '$name' already exists")
        catalogs.put((sk, name), scala.collection.mutable.Set("default"))
        return ok(spark)
      case DropCatalogRe(ifE, name) =>
        val sk = sessionKey(spark); ensureDefaults(sk)
        require(name != currentOf(sk)._1,
          s"DROP CATALOG: '$name' is the current catalog")
        if (catalogs.remove((sk, name)).isEmpty && ifE == null)
          throw new IllegalArgumentException(s"catalog '$name' does not exist")
        catalogStore.keys.filter(k => k._1 == sk && k._2 == name)
          .foreach(catalogStore.remove)
        return ok(spark)
      case UseCatalogRe(name) =>
        val sk = sessionKey(spark); ensureDefaults(sk)
        val dbs = catalogs.getOrElse((sk, name), throw new IllegalArgumentException(
          s"USE CATALOG: catalog '$name' does not exist"))
        val db = Seq("default_database", "default").find(dbs.contains)
          .getOrElse(dbs.toSeq.sorted.headOption.getOrElse("default"))
        switchTo(spark, name, db)
        return ok(spark)
      case CreateDatabaseRe(ifNE, db) =>
        val sk = sessionKey(spark); val (cat, _) = currentOf(sk)
        val dbs = catalogs((sk, cat))
        if (dbs.contains(db)) {
          if (ifNE == null) throw new IllegalArgumentException(
            s"database '$db' already exists in catalog '$cat'")
        } else dbs += db
        return ok(spark)
      case DropDatabaseRe(ifE, db, mode) =>
        val sk = sessionKey(spark); val (cat, cur) = currentOf(sk)
        require(db != cur, s"DROP DATABASE: '$db' is the current database")
        val dbs = catalogs((sk, cat))
        if (!dbs.contains(db)) {
          if (ifE == null) throw new IllegalArgumentException(
            s"database '$db' does not exist in catalog '$cat'")
          return ok(spark)
        }
        val tables = catalogStore.keys
          .filter(k => k._1 == sk && k._2 == cat && k._3 == db).toSeq
        require(tables.isEmpty || (mode != null && mode.equalsIgnoreCase("CASCADE")),
          s"DROP DATABASE: '$db' is not empty (use CASCADE)")
        tables.foreach(catalogStore.remove)
        dbs -= db
        return ok(spark)
      case ShowCatalogsRe() =>
        val sk = sessionKey(spark); ensureDefaults(sk)
        return oneCol(spark, "catalog name",
          catalogs.keys.collect { case (s2, c) if s2 == sk => c }.toSeq.sorted)
      case ShowDatabasesRe() =>
        val sk = sessionKey(spark)
        return oneCol(spark, "database name",
          catalogs((sk, currentOf(sk)._1)).toSeq.sorted)
      case ShowCurrentCatalogRe() =>
        return oneCol(spark, "current catalog name", Seq(currentOf(sessionKey(spark))._1))
      case ShowCurrentDatabaseRe() =>
        return oneCol(spark, "current database name", Seq(currentOf(sessionKey(spark))._2))
      case ShowModulesRe(full) =>
        val sk = sessionKey(spark)
        val loaded = if (coreUnloaded.contains(sk)) Nil else Seq("core")
        // SHOW MODULES lists USED modules; SHOW FULL MODULES lists
        // every loaded module with its used flag (reference
        // ShowModulesOperation requireFull). With a single loadable
        // module, used ≡ loaded: USE MODULES cannot name an empty
        // list, so `core` can only leave use via UNLOAD MODULE.
        if (full == null) return oneCol(spark, "module name", loaded)
        import scala.jdk.CollectionConverters._
        return spark.createDataFrame(
          loaded.map(m => org.apache.spark.sql.Row(m, true)).asJava,
          StructType(Seq(
            org.apache.spark.sql.types.StructField("module name",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("used",
              org.apache.spark.sql.types.BooleanType))))
      case LoadModuleRe(name) =>
        require(name.equalsIgnoreCase("core"),
          s"LOAD MODULE: unknown module '$name' (this engine ships 'core' only)")
        val sk = sessionKey(spark)
        require(coreUnloaded.contains(sk), "LOAD MODULE: module 'core' is already loaded")
        graft.functions.GraftFunctions.register(spark)
        coreUnloaded.remove(sk)
        return ok(spark)
      case UnloadModuleRe(name) =>
        require(name.equalsIgnoreCase("core"),
          s"UNLOAD MODULE: unknown module '$name'")
        val sk = sessionKey(spark)
        require(!coreUnloaded.contains(sk), "UNLOAD MODULE: module 'core' is not loaded")
        dropCoreFns(spark)
        coreUnloaded.add(sk)
        return ok(spark)
      // USE MODULES m1[, m2 …] (reference SqlUseModules): declares the
      // resolution order over LOADED modules. Every listed module must
      // be loaded and listed once; with `core` the only loadable
      // module the accepted order is exactly ["core"], so this
      // validates and records rather than reshuffling anything.
      case UseModulesRe(list) =>
        val sk = sessionKey(spark)
        val mods = list.split(",").map(_.trim.toLowerCase).toSeq
        require(mods.distinct.size == mods.size,
          s"USE MODULES: duplicate module name in '$list'")
        mods.foreach { m =>
          require(m == "core" && !coreUnloaded.contains(sk),
            s"USE MODULES: module '$m' is not loaded")
        }
        return ok(spark)
      case AddJarRe(p) =>
        require(new java.io.File(p).isFile, s"ADD JAR: file not found: $p")
        val sk = sessionKey(spark)
        val cur = sessionJars.getOrElse(sk, Vector.empty)
        require(!cur.contains(p), s"ADD JAR: jar already registered: $p")
        // real distribution: the jar ships to every executor (and, on
        // a cluster, onto the task classpath) through the engine
        spark.sparkContext.addJar(p)
        sessionJars.put(sk, cur :+ p)
        return ok(spark)
      case RemoveJarRe(p) =>
        val sk = sessionKey(spark)
        val cur = sessionJars.getOrElse(sk, Vector.empty)
        require(cur.contains(p), s"REMOVE JAR: jar is not registered: $p")
        // unregisters for future statements; classes already loaded
        // stay loaded until session end — the reference's documented
        // REMOVE JAR semantics
        sessionJars.put(sk, cur.filterNot(_ == p))
        return ok(spark)
      case ShowJarsRe() =>
        return oneCol(spark, "jars",
          sessionJars.getOrElse(sessionKey(spark), Vector.empty))
      // ALTER FUNCTION (reference SqlAlterFunction): re-point a
      // registered function name at a new implementation class
      case AlterFunctionRe(ifE, name, className) =>
        val reg = spark.sessionState.functionRegistry
        val fid = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
        if (!reg.functionExists(fid)) {
          if (ifE == null) throw new IllegalArgumentException(
            s"ALTER FUNCTION: function '$name' does not exist")
          return ok(spark)
        }
        graft.api.Udfs.registerReflective(spark, name, className)
        return ok(spark)
      // ALTER DATABASE db SET (…) (reference SqlAlterDatabase):
      // properties merge into the catalog entry, read back through the
      // catalog-API analog databaseProps
      case AlterDatabaseRe(db, opts) =>
        val sk = sessionKey(spark); val (cat, _) = currentOf(sk)
        require(catalogs((sk, cat)).contains(db),
          s"ALTER DATABASE: database '$db' does not exist in catalog '$cat'")
        dbProps.put((sk, cat, db),
          dbProps.getOrElse((sk, cat, db), Map.empty) ++ parseOptions(opts))
        return ok(spark)
      // ALTER VIEW … RENAME TO / AS query (reference SqlAlterViewRename
      // / SqlAlterViewAs)
      case AlterViewRenameRe(from, to) if declaredViews.contains((sessionKey(spark), from)) =>
        val q = declaredViews.remove((sessionKey(spark), from)).get
        spark.catalog.dropTempView(from)
        spark.sql(q).createOrReplaceTempView(to)
        declaredViews.put((sessionKey(spark), to), q)
        return ok(spark)
      case AlterViewAsRe(name, query) if declaredViews.contains((sessionKey(spark), name)) =>
        val df = spark.sql(query)
        df.createOrReplaceTempView(name)
        declaredViews.put((sessionKey(spark), name), query.trim)
        return ok(spark)
      // DROP FUNCTION (reference SqlDropFunction): unregister from the
      // session registry — covers CREATE FUNCTION'd reflective UDFs
      case DropFunctionRe(ifE, name) =>
        val reg = spark.sessionState.functionRegistry
        val fid = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
        if (!reg.functionExists(fid)) {
          if (ifE == null) throw new IllegalArgumentException(
            s"DROP FUNCTION: function '$name' does not exist")
        } else reg.dropFunction(fid)
        userFns.get(sessionKey(spark)).foreach(_ -= name.toLowerCase)
        return ok(spark)
      // SHOW [USER] FUNCTIONS (reference SqlShowFunctions /
      // ShowFunctionsOperation: USER lists only catalog-registered
      // functions, the plain form lists system + user)
      case ShowFunctionsRe(user) =>
        val mine = userFns.getOrElse(sessionKey(spark),
          scala.collection.mutable.Set.empty[String]).toSeq
        val names =
          if (user != null) mine
          else (spark.sessionState.functionRegistry.listFunction()
            .map(_.funcName) ++ mine).distinct
        return spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(
            names.sorted.map(org.apache.spark.sql.Row(_))).asJava,
          StructType.fromDDL("`function name` STRING"))
      // SHOW PARTITIONS t (reference SqlShowPartitions /
      // ShowPartitionsOperation): the partition specs present in a
      // PARTITIONED BY table's storage, `k1=v1/k2=v2` formatted
      case ShowPartitionsRe(name) if isDeclared(spark, name) =>
        val t = declared((sessionKey(spark), name))
        require(t.partitionedBy.nonEmpty,
          s"SHOW PARTITIONS $name: table is not partitioned")
        import org.apache.spark.sql.functions.{col, concat_ws, lit, concat}
        val spec = concat_ws("/",
          t.partitionedBy.map(p => concat(lit(s"$p="), col(p).cast("string"))): _*)
        val fromData = spark.table(name).select(spec.as("partition name"))
        // partitions registered via ADD PARTITION appear even while
        // empty, like catalog-registered partitions in the reference
        val registered = diskPartitions(t).toSeq.sorted
        val regDf = spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(
            registered.map(org.apache.spark.sql.Row(_))).asJava,
          StructType.fromDDL("`partition name` STRING"))
        return fromData.union(regDf)
          .distinct().orderBy(col("partition name"))
      // DESCRIBE CATALOG / DATABASE (reference SqlDescribeCatalog /
      // SqlDescribeDatabase): info rows from the in-memory catalog
      case DescCatalogRe(cat) =>
        val sk = sessionKey(spark); ensureDefaults(sk)
        require(catalogs.contains((sk, cat)),
          s"DESCRIBE CATALOG: catalog '$cat' does not exist")
        return spark.createDataFrame(
          java.util.List.of(
            org.apache.spark.sql.Row("name", cat),
            org.apache.spark.sql.Row("type", "generic_in_memory"),
            org.apache.spark.sql.Row("comment", "")),
          StructType.fromDDL("`info name` STRING, `info value` STRING"))
      case DescDatabaseRe(db) =>
        val sk = sessionKey(spark); val (cat, _) = currentOf(sk)
        require(catalogs((sk, cat)).contains(db),
          s"DESCRIBE DATABASE: database '$db' does not exist in catalog '$cat'")
        val props = dbProps.getOrElse((sk, cat, db), Map.empty)
        val rows = Seq(
          org.apache.spark.sql.Row("name", db),
          org.apache.spark.sql.Row("catalog", cat),
          org.apache.spark.sql.Row("comment", "")) ++
          props.toSeq.sortBy(_._1).map { case (k, v) =>
            org.apache.spark.sql.Row(s"property:$k", v) }
        return spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
          StructType.fromDDL("`info name` STRING, `info value` STRING"))
      // ALTER TABLE … ADD/DROP PARTITION (reference SqlAddPartitions /
      // SqlDropPartitions): directory-level partition management on a
      // PARTITIONED BY filesystem table. ADD registers (and creates)
      // the partition directory; DROP prunes it — a static prune, the
      // DDL-side analog of partition-filter pushdown.
      case AlterAddPartRe(name, ifNot, spec) if isDeclared(spark, name) =>
        val t = declared((sessionKey(spark), name))
        val pairs = parsePartitionSpec(t, spec, requireFull = true)
        // logical name (matches SHOW PARTITIONS' value-derived specs)
        // vs the on-disk directory (Hive-escaped, matching what
        // Spark's partitioned writer produces for the same values)
        val rel = pairs.map { case (k, v) => s"$k=$v" }.mkString("/")
        val dir = java.nio.file.Paths.get(t.options("path"),
          pairs.map { case (k, v) => s"$k=${escapePartValue(v)}" }: _*)
        val exists = java.nio.file.Files.isDirectory(dir)
        if (exists) require(ifNot != null,
          s"ALTER TABLE $name ADD PARTITION: partition ($rel) already " +
            "exists — use IF NOT EXISTS")
        else java.nio.file.Files.createDirectories(dir)
        return ok(spark)
      case AlterDropPartRe(name, ifEx, spec) if isDeclared(spark, name) =>
        val t = declared((sessionKey(spark), name))
        val pairs = parsePartitionSpec(t, spec, requireFull = false)
        val rel = pairs.map { case (k, v) => s"$k=$v" }.mkString("/")
        val dir = java.nio.file.Paths.get(t.options("path"),
          pairs.map { case (k, v) => s"$k=${escapePartValue(v)}" }: _*)
        val exists = java.nio.file.Files.isDirectory(dir)
        if (!exists) require(ifEx != null,
          s"ALTER TABLE $name DROP PARTITION: partition ($rel) does not " +
            "exist — use IF EXISTS")
        else {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala.toSeq
            .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete(_))
          // refresh the registered view so its file index drops the
          // pruned directory
          register(spark, t)
        }
        return ok(spark)
      // Hive-dialect column DDL (reference SqlAddReplaceColumns /
      // SqlChangeColumn — parsed by the reference, rejected by its
      // generic in-memory catalog; executed here). Batch parquet tables
      // only: parquet's name-based column resolution is what makes
      // add/replace/rename safe as pure metadata (missing names read
      // as typed NULL, renamed names alias the stored column).
      case AlterAddColsRe(name, body) if isDeclared(spark, name) =>
        val t = declared((sessionKey(spark), name))
        requireEvolvable(t, "ADD COLUMNS")
        val adds = parseBareColumns(body, "ADD COLUMNS")
        adds.foreach { c =>
          require(!t.physical.exists(_.name.equalsIgnoreCase(c.name)),
            s"ADD COLUMNS: column '${c.name}' already exists")
          requireUnreserved(t, "ADD COLUMNS", c.name)
        }
        val altered = t.copy(physical = t.physical ++ adds, schemaAltered = true)
        declared.put((sessionKey(spark), name), altered)
        fileTable(sessionKey(spark), name, altered)
        return register(spark, altered)
      case AlterReplaceColsRe(name, body) if isDeclared(spark, name) =>
        val t = declared((sessionKey(spark), name))
        requireEvolvable(t, "REPLACE COLUMNS")
        val cols = parseBareColumns(body, "REPLACE COLUMNS")
        (t.partitionedBy ++ t.primaryKey).foreach(p => require(
          cols.exists(_.name.equalsIgnoreCase(p)),
          s"REPLACE COLUMNS: partition/primary-key column '$p' cannot be dropped"))
        // dropped columns retire their whole storage-name history —
        // old files keep that data, so the names must never be reused
        val dropped = t.physical.filterNot(p =>
          cols.exists(_.name.equalsIgnoreCase(p.name)))
        val retired = t.retired ++ dropped.flatMap(d =>
          storageName(t, d.name).toLowerCase +:
            t.renames.getOrElse(d.name.toLowerCase, Nil).map(_.toLowerCase))
        // renames/storage entries targeting dropped columns die with them
        val kept = t.renames.filter { case (n, _) =>
          cols.exists(_.name.equalsIgnoreCase(n)) }
        val keptStorage = t.storage.filter { case (n, _) =>
          cols.exists(_.name.equalsIgnoreCase(n)) }
        var altered = t.copy(physical = cols, renames = kept,
          storage = keptStorage, retired = retired, schemaAltered = true)
        cols.foreach { c =>
          t.physical.find(_.name.equalsIgnoreCase(c.name)) match {
            case None =>
              // a truly new column must not resurrect a retired or
              // still-chained storage name
              requireUnreserved(altered, "REPLACE COLUMNS", c.name)
            case Some(prev) if prev.typ != c.typ =>
              // kept-but-retyped: start a fresh storage generation,
              // chaining the prior one so old files keep feeding reads
              val prior = storageName(altered, c.name)
              val next = freshStorage(altered, c.name)
              altered = altered.copy(
                renames = altered.renames + (c.name.toLowerCase ->
                  (prior +: altered.renames.getOrElse(c.name.toLowerCase, Nil))),
                storage = altered.storage + (c.name.toLowerCase -> next))
            case _ => ()
          }
        }
        declared.put((sessionKey(spark), name), altered)
        fileTable(sessionKey(spark), name, altered)
        return register(spark, altered)
      case AlterChangeColRe(name, oldN, newN, typ0, pos) if isDeclared(spark, name) =>
        val t = declared((sessionKey(spark), name))
        requireEvolvable(t, "CHANGE COLUMN")
        val idx = t.physical.indexWhere(_.name.equalsIgnoreCase(oldN))
        require(idx >= 0, s"CHANGE COLUMN: column '$oldN' does not exist")
        require(!t.partitionedBy.exists(_.equalsIgnoreCase(oldN)),
          s"CHANGE COLUMN: '$oldN' is a partition column")
        if (!oldN.equalsIgnoreCase(newN)) {
          require(!t.physical.exists(_.name.equalsIgnoreCase(newN)),
            s"CHANGE COLUMN: target name '$newN' already exists")
          // reclaiming a name from the column's OWN rename history is
          // fine (same logical column in every file); any other prior
          // storage name would surface stale data
          requireUnreserved(t, "CHANGE COLUMN", newN, exceptOwn = Some(oldN))
        }
        val newDef = ColumnDef(newN, normalizeType(typ0.trim))
        var cols = t.physical.updated(idx, newDef).toVector
        Option(pos).map(_.trim).foreach { p =>
          cols = cols.patch(idx, Nil, 1) // take it out, then re-place
          if (p.equalsIgnoreCase("FIRST")) cols = newDef +: cols
          else { // AFTER other
            val after = p.split("\\s+").last
            val at = cols.indexWhere(_.name.equalsIgnoreCase(after))
            require(at >= 0, s"CHANGE COLUMN: AFTER column '$after' does not exist")
            cols = (cols.take(at + 1) :+ newDef) ++ cols.drop(at + 1)
          }
        }
        // a rename (or a retype, which starts a fresh storage
        // generation) PREPENDS the outgoing storage name to the
        // history — files written between any two changes carry the
        // then-current name, so reads must see every prior name
        val typeChanged = newDef.typ != t.physical(idx).typ
        val priorStorage = storageName(t, oldN)
        val renames =
          if (oldN.equalsIgnoreCase(newN) && !typeChanged) t.renames
          else (t.renames - oldN.toLowerCase) + (newN.toLowerCase ->
            (priorStorage +: t.renames.getOrElse(oldN.toLowerCase, Nil)))
        val storage0 = t.storage - oldN.toLowerCase
        val storage =
          if (typeChanged) storage0 + (newN.toLowerCase -> freshStorage(t, newN))
          else storage0
        val altered = t.copy(
          physical = cols,
          primaryKey = t.primaryKey.map(p =>
            if (p.equalsIgnoreCase(oldN)) newN else p),
          watermark = t.watermark.map(w =>
            if (w.column.equalsIgnoreCase(oldN)) w.copy(column = newN) else w),
          renames = renames, storage = storage, schemaAltered = true)
        declared.put((sessionKey(spark), name), altered)
        fileTable(sessionKey(spark), name, altered)
        return register(spark, altered)
      // ALTER TABLE … ADD [CONSTRAINT name] PRIMARY KEY (…) NOT
      // ENFORCED / DROP CONSTRAINT (reference SqlAlterTableAddConstraint
      // / SqlAlterTableDropConstraint): constraint metadata on the decl
      case AlterAddPkRe(name, pkClause) if isDeclared(spark, name) =>
        val t = declared((sessionKey(spark), name))
        require(t.primaryKey.isEmpty,
          s"ALTER TABLE $name: table already has a primary key — DROP CONSTRAINT first")
        val (_, _, _, _, pk, pkName) = parseBody(pkClause)
        pk.foreach { p =>
          require(t.physical.exists(_.name.equalsIgnoreCase(p)),
            s"PRIMARY KEY column '$p' is not a declared physical column")
        }
        val updated = t.copy(primaryKey = pk, pkName = pkName)
        declared.put((sessionKey(spark), name), updated)
        fileTable(sessionKey(spark), name, updated)
        return ok(spark)
      case AlterDropConstraintRe(name) if isDeclared(spark, name) =>
        val t = declared((sessionKey(spark), name))
        require(t.primaryKey.nonEmpty,
          s"ALTER TABLE $name: table has no primary key constraint")
        val updated = t.copy(primaryKey = Nil, pkName = None)
        declared.put((sessionKey(spark), name), updated)
        fileTable(sessionKey(spark), name, updated)
        return ok(spark)
      // USE db — keyword-shaped tails (e.g. USE CATALOG) never reach
      // here because the CATALOG form matched above
      case UseDbRe(db) =>
        val sk = sessionKey(spark); val (cat, _) = currentOf(sk)
        require(catalogs((sk, cat)).contains(db),
          s"USE: database '$db' does not exist in catalog '$cat'")
        switchTo(spark, cat, db)
        return ok(spark)
      // SET 'key' = 'value' / RESET 'key' (reference SqlSet/SqlReset,
      // FLIP-163): session configuration through the SQL door
      case SetRe(k, v) =>
        spark.conf.set(k, v)
        return ok(spark)
      case ResetRe(k) =>
        spark.conf.unset(k)
        return ok(spark)
      case ExplainRe(stmt) if !stmt.trim.toUpperCase.startsWith("FORMATTED") &&
          !stmt.trim.toUpperCase.startsWith("EXTENDED") &&
          !stmt.trim.toUpperCase.startsWith("CODEGEN") &&
          !stmt.trim.toUpperCase.startsWith("COST") =>
        // reference ExplainDetail (1.14): ESTIMATED_COST,
        // CHANGELOG_MODE, JSON_EXECUTION_PLAN — a comma-separated
        // detail list before the statement
        val DetailWord = "(ESTIMATED_COST|CHANGELOG_MODE|JSON_EXECUTION_PLAN)"
        var rest = stmt.trim
        val details = scala.collection.mutable.LinkedHashSet.empty[String]
        var more = true
        while (more) {
          val m = s"(?is)^$DetailWord\\s*(?:,\\s*)?(.*)$$".r.findFirstMatchIn(rest)
          m match {
            case Some(g) => details += g.group(1).toUpperCase; rest = g.group(2).trim
            case None => more = false
          }
        }
        return explain(spark, rest, details.toSet)
      // SHOW/DESCRIBE/DROP/EXPLAIN variants this front-end does not
      // own (LIKE patterns, EXTENDED/FORMATTED, qualified names,
      // DESCRIBE FUNCTION, undeclared drops) execute natively — the
      // pre-existing behavior before introspection routing was added
      case IntrospectionShaped(_*) => return spark.sql(ddl)
      case _ => ()
    }
    val t = parse(ddl)
    // register FIRST: a failing CREATE TABLE (bad options, missing
    // path) must not leave a zombie declaration behind for later
    // USE-switch re-registration to trip over
    val df = register(spark, t)
    declared.put((sessionKey(spark), t.name), t)
    fileTable(sessionKey(spark), t.name, t)
    df
  }

  /** FLIP-113 dynamic table options (reference SqlHint / the 1.14
   * `table.dynamic-table-options.enabled` surface): a query-level
   * `FROM t &#47;*+ OPTIONS('k'='v') *&#47;` hint merges the hinted options
   * over the declared table's WITH options FOR THIS STATEMENT ONLY.
   * The hinted table re-registers under a mangled temp-view name with
   * the merged options and the statement is rewritten to reference
   * it; the declared table (and its view) are untouched. Hints on
   * names this front-end has not declared fail loud, like the
   * reference's "cannot apply hint on a view/unknown table" errors. */
  private val HintRe =
    "(?is)\\b([A-Za-z_][A-Za-z0-9_]*)\\s*/\\*\\+\\s*OPTIONS\\s*\\((.*?)\\)\\s*\\*/".r

  def query(spark: SparkSession, sql0: String): DataFrame = {
    var q = sql0
    var n = 0
    HintRe.findAllMatchIn(sql0).foreach { m =>
      val (tbl, optsStr) = (m.group(1), m.group(2))
      val t = declared.getOrElse((sessionKey(spark), tbl),
        throw new IllegalArgumentException(
          s"OPTIONS hint on '$tbl': not a declared connector table"))
      n += 1
      val alias = s"${tbl}__opts_$n"
      register(spark, t.copy(name = alias, options = t.options ++ parseOptions(optsStr)))
      q = q.replace(m.matched, alias)
    }
    spark.sql(q)
  }

  /** Reconstructed DDL for SHOW CREATE TABLE — parses back via
   * [[parse]] to an identical [[TableDef]]. */
  /** SQL text of a watermark's offset (right of `col -`): literal
   * offsets re-render as `INTERVAL 'n' UNIT`; "expr:"-marked offsets
   * re-emit the original expression verbatim — so SHOW CREATE TABLE /
   * DESCRIBE output re-parses through [[parse]] to the same def. */
  private def wmOffsetSql(w: WatermarkDef): String =
    if (w.delay.startsWith("expr:")) w.delay.drop(5)
    else {
      val Array(n, unit) = w.delay.split(" ", 2)
      s"INTERVAL '$n' $unit"
    }

  private def showCreate(t: TableDef): String = {
    val cols = t.physical.map(c => s"  ${c.name} ${c.typ}") ++
      t.metadata.map(m => s"  ${m.name} ${m.typ} METADATA FROM '${m.key}'" +
        (if (m.virtual) " VIRTUAL" else "")) ++
      t.computed.map(c => s"  ${c.name} AS ${c.sqlExpr}") ++
      (if (t.primaryKey.isEmpty) Nil
       else Seq(t.primaryKey.mkString(
         "  " + t.pkName.map(n => s"CONSTRAINT $n ").getOrElse("") +
           "PRIMARY KEY (", ", ", ") NOT ENFORCED"))) ++
      t.watermark.toSeq.map(w =>
        s"  WATERMARK FOR ${w.column} AS ${w.column} - ${wmOffsetSql(w)}")
    val partClause =
      if (t.partitionedBy.isEmpty) ""
      else t.partitionedBy.mkString(" PARTITIONED BY (", ", ", ")")
    val opts = t.options.toSeq.sortBy(_._1)
      .map { case (k, v) => s"  '$k' = '$v'" }.mkString(",\n")
    s"CREATE TABLE ${t.name} (\n${cols.mkString(",\n")}\n)$partClause WITH (\n$opts\n)"
  }

  /** The reference's "OK" TableResult for DDL statements with no
   * result set. */
  private def ok(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row("OK")),
      StructType.fromDDL("result STRING"))
  }

  /** `SHOW TABLES` / `SHOW VIEWS` (reference ShowTablesOperation /
   * ShowViewsOperation; SHOW TABLES lists tables AND views, as the
   * reference's current-database listing does). Scoped to what THIS
   * session declared through the front-end. */
  private def showTables(spark: SparkSession, viewsOnly: Boolean): DataFrame = {
    val k = sessionKey(spark)
    val views = declaredViews.keysIterator.filter(_._1 == k).map(_._2).toSeq
    val names = (if (viewsOnly) views
      else views ++ declared.keysIterator.filter(_._1 == k).map(_._2)).sorted
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      names.map(org.apache.spark.sql.Row(_)).asJava,
      StructType.fromDDL("table_name STRING"))
  }

  /** `DESCRIBE t` (reference DescribeTableOperation; output columns
   * name/type/null/key/extras/watermark as the reference prints). The
   * TYPE column is the RESOLVED type — computed columns show the type
   * Catalyst derived for their expression, not the declared text. */
  private def describe(spark: SparkSession, name: String): DataFrame = {
    val t = declared.getOrElse((sessionKey(spark), name),
      throw new IllegalArgumentException(
        s"DESCRIBE $name: not a declared connector table"))
    val resolved = spark.table(name).schema
    def typeOf(c: String): String = resolved(c).dataType.sql
    def wmOf(c: String): Option[String] =
      t.watermark.filter(_.column == c)
        .map(w => s"${w.column} - ${wmOffsetSql(w)}")
    // key column: PRI(cols) on every primary-key member row, the
    // reference DESCRIBE format (SqlRichDescribeTable printing)
    val priLabel =
      if (t.primaryKey.isEmpty) null
      else t.primaryKey.mkString("PRI(", ", ", ")")
    val rows =
      t.physical.map(c => org.apache.spark.sql.Row(
        c.name, typeOf(c.name), true,
        if (t.primaryKey.exists(_.equalsIgnoreCase(c.name))) priLabel else null,
        null, wmOf(c.name).orNull)) ++
      t.computed.map(c => org.apache.spark.sql.Row(
        c.name, typeOf(c.name), true, null, s"AS ${c.sqlExpr}", null)) ++
      t.metadata.map(m => org.apache.spark.sql.Row(
        m.name, typeOf(m.name), true, null,
        s"METADATA FROM '${m.key}'" + (if (m.virtual) " VIRTUAL" else ""), null))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, StructType.fromDDL(
      "name STRING, type STRING, null BOOLEAN, key STRING, extras STRING, watermark STRING"))
  }

  /** `EXPLAIN [PLAN FOR] <query>` (reference SqlRichExplain /
   * ExplainOperation): one row carrying the optimized logical and
   * physical plans of the statement, resolved through the same
   * extended-SQL door queries use. */
  private def explain(spark: SparkSession, stmt: String,
      details: Set[String] = Set.empty): DataFrame = {
    val df = new graft.api.TableEnv(spark).sqlQuery(stmt)
    val qe = df.queryExecution
    val sb = new StringBuilder(
      qe.explainString(org.apache.spark.sql.execution.ExtendedMode))
    if (details.contains("ESTIMATED_COST"))
      // reference appends per-operator cost estimates; Spark's CostMode
      // prints the optimized plan with Statistics(sizeInBytes, rowCount)
      sb.append("\n== Estimated Cost ==\n")
        .append(qe.explainString(org.apache.spark.sql.execution.CostMode))
    if (details.contains("CHANGELOG_MODE")) {
      // per-operator changelog modes under graft's streaming rules:
      // aggregates and rank rewrites materialize per-micro-batch
      // UPDATES ([I,UB,UA]); everything else is insert-only. Batch
      // execution of the same statement always materializes [I].
      import org.apache.spark.sql.catalyst.plans.logical._
      val annotated = qe.optimizedPlan.map {
        case _: Aggregate => "Aggregate(changelogMode=[I,UB,UA])"
        case _: Window => "Window(changelogMode=[I,UB,UA])"
        case p => s"${p.nodeName}(changelogMode=[I])"
      }
      sb.append("\n== Changelog Mode ==\n").append(annotated.mkString("\n"))
    }
    if (details.contains("JSON_EXECUTION_PLAN"))
      sb.append("\n== JSON Execution Plan ==\n").append(qe.sparkPlan.toJSON)
    spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(sb.toString)),
      StructType.fromDDL("plan STRING"))
  }

  /** INSERT-side half of schema evolution: route retyped columns to
   * their current storage-generation name, cast to the declared type.
   * Only generation-named columns are cast — their names are fresh, so
   * every file carrying them got this cast and parquet schema merge
   * sees ONE type per storage name. Columns under their declared name
   * write raw (casting those would conflict with files written before
   * the ALTER, whose types Spark's schema merge refuses to widen). */
  private def remapForWrite(b: DataFrame, t: TableDef): DataFrame = {
    var out = b
    t.physical.foreach { c =>
      val sn = storageName(t, c.name)
      if (!sn.equalsIgnoreCase(c.name) &&
          out.columns.exists(_.equalsIgnoreCase(c.name))) {
        out = out.withColumn(c.name, col(c.name).cast(c.typ))
          .withColumnRenamed(c.name, sn)
      }
    }
    out
  }

  private def statementSet(spark: SparkSession, body: String): DataFrame = {
    val stmts = SqlLexer.splitTopOn(body, ';')
    require(stmts.nonEmpty, "empty statement set")
    val rows = stmts.map {
      case InsertRe(verb, target, select) =>
        val t = declared.getOrElse((System.identityHashCode(spark).toString, target),
          throw new IllegalArgumentException(
            s"INSERT INTO $target: not a declared connector table"))
        def write(b: DataFrame, mode: String): Unit =
          if (t.options.get("connector").contains("jdbc")) {
            // JDBC sink (reference flink-connector-jdbc DDL:
            // 'connector'='jdbc', 'url', 'table-name' [, 'driver'])
            var w = b.write.mode(mode).format("jdbc")
              .option("url", t.options("url"))
              .option("dbtable", t.options("table-name"))
            t.options.get("driver").foreach(d => w = w.option("driver", d))
            t.options.get("sink.column-types")
              .foreach(ct => w = w.option("createTableColumnTypes", ct))
            w.save()
          } else {
            val path = t.options("path")
            val fmt = t.options.getOrElse("format", "parquet")
            // schema-evolved tables: pin each file's physical type to
            // the declared type at write time and route retyped
            // columns to their current storage-generation name, so no
            // two files ever disagree on one storage name's type
            val data = if (t.schemaAltered) remapForWrite(b, t) else b
            // partitioned sink (reference filesystem-connector partition
            // keys): one directory per key value — the scan side prunes
            // them statically (see the partition-pruning plan audit)
            val w0 = data.write.mode(mode)
            val w = if (t.partitionedBy.nonEmpty) w0.partitionBy(t.partitionedBy: _*) else w0
            fmt match {
              case "parquet" => w.parquet(path)
              case "csv" => w.option("header",
                t.options.getOrElse("csv.header", "false")).csv(path)
              case "json" => w.json(path)
              case other =>
                throw new IllegalArgumentException(s"unsupported sink format $other")
            }
          }
        val df = spark.sql(select)
        if (df.isStreaming) {
          // STREAMING statement set (reference StreamStatementSet /
          // StreamTableEnvironment.createStatementSet): each INSERT is
          // a bounded AvailableNow pipeline into the declared sink via
          // foreachBatch. Append-shaped queries only (stateless, or
          // watermark-finalized windowed aggregates) — a file-backed
          // sink cannot retract; update-mode aggregates raise Spark's
          // own loud append-mode error.
          require(!verb.equalsIgnoreCase("OVERWRITE"),
            s"INSERT OVERWRITE $target: streaming overwrite is not supported")
          val ckpt = graft.streaming.StreamOps.scratchDir("graft_sset_ck").toString
          val q = df.writeStream
            .outputMode("append")
            .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                _: java.lang.Long) => write(b.toDF(), "append"))
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        } else {
          // INSERT OVERWRITE (reference SqlInsert overwrite flag; batch
          // filesystem tables): replace the sink's contents atomically
          write(df, if (verb.equalsIgnoreCase("OVERWRITE")) "overwrite" else "append")
        }
        val refreshed = register(spark, t)
        (target, refreshed.count())
      case other =>
        throw new IllegalArgumentException(
          s"statement set supports INSERT INTO <table> <query> only, got: $other")
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (t, n) => org.apache.spark.sql.Row(t, n) }.asJava,
      StructType.fromDDL("sink STRING, rows BIGINT"))
  }

  /** Build the table's frame from its definition and (re-)register the
   * temp view. */
  /** Resolve a watermark delay: literal "n unit" passes through; an
   * "expr:"-marked constant interval expression evaluates through the
   * session (microsecond resolution; month intervals have no fixed
   * length and are rejected). */
  private def resolveDelay(spark: SparkSession, d: String): String =
    if (!d.startsWith("expr:")) d
    else spark.sql(s"SELECT (${d.drop(5)})").first().get(0) match {
      case dur: java.time.Duration =>
        s"${dur.getSeconds * 1000000L + dur.getNano / 1000} microseconds"
      case ci: org.apache.spark.unsafe.types.CalendarInterval =>
        require(ci.months == 0,
          s"month-based watermark offset unsupported: ${d.drop(5)}")
        s"${ci.days * 86400000000L + ci.microseconds} microseconds"
      case other => throw new IllegalArgumentException(
        s"watermark offset must be a constant interval, got '$other' for: ${d.drop(5)}")
    }

  private def register(spark: SparkSession, t: TableDef): DataFrame = {
    // JDBC source (reference flink-connector-jdbc DDL): bounded scan
    // only — the reference's jdbc table is likewise a bounded/lookup
    // source, not a changelog stream
    if (t.options.get("connector").contains("jdbc")) {
      require(!t.options.get("scan.streaming").contains("true"),
        s"table ${t.name}: the jdbc connector is a bounded scan")
      var r = spark.read.format("jdbc")
        .option("url", t.options("url"))
        .option("dbtable", t.options("table-name"))
      t.options.get("driver").foreach(d => r = r.option("driver", d))
      Seq("partitionColumn" -> "scan.partition.column",
        "lowerBound" -> "scan.partition.lower-bound",
        "upperBound" -> "scan.partition.upper-bound",
        "numPartitions" -> "scan.partition.num").foreach { case (sparkKey, flinkKey) =>
        t.options.get(flinkKey).foreach(v => r = r.option(sparkKey, v))
      }
      var df = try r.load() catch { case e: Throwable =>
        // a declared-but-not-yet-written sink table resolves to its
        // declared schema (empty), like the filesystem path below
        val schema = StructType.fromDDL(
          t.physical.map(c => s"${c.name} ${c.typ}").mkString(", "))
        spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)
      }
      t.computed.foreach(c => df = df.withColumn(c.name, expr(c.sqlExpr)))
      df.createOrReplaceTempView(t.name)
      return df
    }
    val fmt = t.options.getOrElse("format", "parquet")
    val path = t.options.getOrElse("path",
      throw new IllegalArgumentException(s"table ${t.name}: missing 'path' option"))
    val streaming = t.options.get("scan.streaming").contains("true")
    // CHAR(n) physical columns (SURVEY §7.5): the reference's planner
    // space-pads CHAR values to their declared length; Spark's CHAR
    // handling is config-dependent, so normalize explicitly — read as
    // STRING, then rpad (which also truncates overlong values) so every
    // downstream comparison and projection sees fixed-width semantics.
    val charCols: Seq[(String, Int)] = t.physical.collect {
      case ColumnDef(n, CharRe(len)) => n -> len.toInt
    }
    val readCols = t.physical.map(c =>
      if (CharRe.matches(c.typ)) ColumnDef(c.name, "STRING") else c)
    val schema = StructType.fromDDL(readCols.map(c => s"${c.name} ${c.typ}").mkString(", "))

    var df =
      if (streaming) {
        // single-file paths need a glob so the file stream source treats
        // the parent as basePath (see StreamOps.readStream)
        val p = if (path.endsWith("/")) path else path + "*"
        val r = spark.readStream.schema(schema)
        fmt match {
          case "parquet" => r.parquet(p)
          case "csv" => r.option("header", t.options.getOrElse("csv.header", "false")).csv(p)
          case "json" => r.json(p)
          case other => throw new IllegalArgumentException(s"unsupported format $other")
        }
      } else fmt match {
        // a declared-but-not-yet-written sink directory has no files to
        // infer from — fall back to the declared schema (empty scan),
        // as the reference's catalog tables resolve before first write
        case "parquet" if t.schemaAltered =>
          // schema-evolution projection (Hive-dialect column DDL):
          // per declared column — alias the original storage name if
          // the column was renamed (coalescing when post-rename
          // INSERTs wrote the new name into newer files), typed NULL
          // if no file carries it yet (ADD COLUMNS), and a cast to
          // the declared type (CHANGE retype). mergeSchema makes the
          // union of per-file schemas visible to `have`.
          try {
            val raw = spark.read.option("mergeSchema", "true").parquet(path)
            val have = raw.columns.map(_.toLowerCase).toSet
            val cols = readCols.map { c =>
              val sn = storageName(t, c.name)
              val priors = t.renames.getOrElse(c.name.toLowerCase, Nil)
                .filter(o => have.contains(o.toLowerCase))
              // cast each generation INDIVIDUALLY: a retype leaves
              // prior generations under their own storage names with
              // their own physical types, so a single post-coalesce
              // cast would fail analysis on the mixed-type chain.
              // try_cast: a prior generation's value that does not fit
              // the CURRENT declared type reads as NULL (schema
              // evolution semantics), not as a runtime ANSI error.
              val sources =
                ((if (have.contains(sn.toLowerCase)) Seq(col(sn)) else Nil) ++
                  priors.map(col)).map(_.try_cast(c.typ))
              val base = sources match {
                case Seq() => lit(null).cast(c.typ)
                case Seq(one) => one
                case many => coalesce(many: _*)
              }
              base.as(c.name)
            }
            raw.select(cols: _*)
          } catch {
            case _: org.apache.spark.sql.AnalysisException =>
              spark.read.schema(schema).parquet(path)
            case e: org.apache.spark.SparkException
                if e.getMessage != null &&
                  e.getMessage.contains("merge incompatible data types") =>
              // column DDL in this catalog starts a new storage
              // generation on every retype, so OUR files never clash —
              // this means files written outside the DDL path hold two
              // physical types under one name. Fail loudly instead of
              // leaving the table unreadable with a cryptic merge error.
              throw new IllegalArgumentException(
                s"table ${t.name}: existing parquet files hold incompatible " +
                  "physical types for the same column name (written outside " +
                  "this catalog's column DDL, which isolates retypes into " +
                  s"fresh storage generations): ${e.getMessage}", e)
          }
        case "parquet" =>
          try spark.read.parquet(path).selectExpr(t.physical.map(_.name): _*)
          catch { case _: org.apache.spark.sql.AnalysisException =>
            spark.read.schema(schema).parquet(path) }
        case "csv" => spark.read.schema(schema)
          .option("header", t.options.getOrElse("csv.header", "false")).csv(path)
        case "json" => spark.read.schema(schema).json(path)
        case other => throw new IllegalArgumentException(s"unsupported format $other")
      }

    // metadata columns resolve against the file source's hidden
    // `_metadata` struct — applied on the scan (before computed
    // columns, which may reference them)
    t.metadata.foreach { m =>
      df = df.withColumn(m.name, col("_metadata." + m.key).cast(m.typ)) }
    // CHAR normalization precedes computed columns, so expressions over
    // a CHAR column see its padded form (as the reference's would)
    charCols.foreach { case (n, len) => df = df.withColumn(n, rpad(col(n), len, " ")) }
    t.computed.foreach(c => df = df.withColumn(c.name, expr(c.sqlExpr)))
    t.watermark.foreach { w =>
      if (streaming) df = df.withWatermark(w.column, resolveDelay(spark, w.delay)) }
    df.createOrReplaceTempView(t.name)
    df
  }
}
