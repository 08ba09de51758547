package graft.schema

import org.apache.spark.sql.types._

/** One column of the export table.
  *
  * Mirrors the semantics of the reference's `WarehouseField`
  * (reference: warehouse/schema.go:98-115): `dbName` is the column name in
  * the warehouse, `sourceName` the name in the source export (empty for
  * DB-only columns that have no source field), `dataType` the Spark type.
  */
final case class Field(dbName: String, sourceName: String, dataType: DataType) {
  def isDbOnly: Boolean = sourceName.isEmpty
}

/** The canonical export-table schema and its reconciliation rules.
  *
  * The reference derives a fixed, ordered field list by reflection over Go
  * structs (reference: warehouse/schema.go:9-82, :222-235). Here the list is
  * declared directly; ordering is load-bearing (CSV columns ↔ table
  * ordinals), so everything operates on ordered Seq[Field], never sets.
  *
  * Reconciliation is append-only and order-sensitive (reference:
  * warehouse/schema.go:201-220): live-table order wins, canonical fields
  * missing from the live table append at the end. Name matching is
  * case-insensitive (reference: warehouse/schema.go:162-174), with the
  * legacy rename PageAgent ← PageUserAgent special-cased (reference:
  * warehouse/schema.go:147-158).
  */
object ExportSchema {

  private val S = StringType
  private val L = LongType
  private val I = IntegerType
  private val D = DoubleType
  private val T = TimestampType

  /** 59 base fields in canonical declaration order
    * (reference: warehouse/schema.go:9-69). */
  val baseFields: Seq[Field] = Seq(
    "IndvId" -> L, "UserId" -> L, "SessionId" -> L, "PageId" -> L,
    "UserCreated" -> T, "UserAppKey" -> S, "UserDisplayName" -> S,
    "UserEmail" -> S, "EventStart" -> T, "EventType" -> S,
    "EventSubType" -> S, "EventCustomName" -> S, "EventTargetText" -> S,
    "EventTargetSelector" -> S, "EventPageOffset" -> L,
    "EventSessionOffset" -> L, "EventModFrustrated" -> L,
    "EventModDead" -> L, "EventModError" -> L, "EventModSuspicious" -> L,
    "EventVarErrorKind" -> S, "EventVarFields" -> S,
    "EventWebSourceFileUrl" -> S, "EventFirstInputDelay" -> L,
    "EventCumulativeLayoutShift" -> D, "SessionStart" -> T,
    "PageName" -> S, "PageStart" -> T, "PageDuration" -> L,
    "PageActiveDuration" -> L, "PageUrl" -> S, "PageRefererUrl" -> S,
    "PageIp" -> S, "PageLatLong" -> S, "PageUserAgent" -> S,
    "PageBrowser" -> S, "PageBrowserVersion" -> S, "PageDevice" -> S,
    "PagePlatform" -> S, "PageOperatingSystem" -> S,
    "PageScreenWidth" -> L, "PageScreenHeight" -> L,
    "PageViewportWidth" -> L, "PageViewportHeight" -> L,
    "PageNumEvents" -> I, "PageNumDerivedEvents" -> I,
    "PageNumInfos" -> L, "PageNumWarnings" -> L, "PageNumErrors" -> L,
    "PageClusterId" -> L, "PageMaxScrollDepthPercent" -> L,
    "LoadDomContentTime" -> L, "LoadEventTime" -> L,
    "LoadFirstPaintTime" -> L, "LoadLargestPaintTime" -> L,
    "ReqUrl" -> S, "ReqMethod" -> S, "ReqStatus" -> L,
    "CustomVars" -> S
  ).map { case (n, t) => Field(n, n, t) }

  /** 8 optional mobile-app fields (reference: warehouse/schema.go:73-82),
    * appended when includeMobile (reference: internal/service.go:56-58). */
  val mobileFields: Seq[Field] = Seq(
    "AppName", "AppPackageName", "AppDeviceModel", "AppDeviceVendor",
    "AppVersion", "AppOsVersion", "AppViewName", "EventMobileSourceFile"
  ).map(n => Field(n, n, S))

  /** Wildcard field patterns that pull custom variables from the source
    * (reference: warehouse/schema.go:84-88). */
  val wildcardFields: Seq[String] = Seq("user_*", "evt_*", "page_*")

  /** Legacy renames: dbName -> canonical sourceName
    * (reference: warehouse/schema.go:147-158). */
  val legacyRenames: Map[String, String] = Map("pageagent" -> "PageUserAgent")

  def canonical(includeMobile: Boolean): Seq[Field] =
    if (includeMobile) baseFields ++ mobileFields else baseFields

  /** Spark StructType of an ordered field list. Everything except
    * EventStart/EventType is nullable (reference: warehouse/bigquery.go:335-340). */
  def toStructType(fields: Seq[Field]): StructType = StructType(
    fields.map(f => StructField(f.dbName, f.dataType,
      nullable = f.dbName != "EventStart" && f.dbName != "EventType")))

  /** Case-insensitive lookup of a canonical field for a live column name,
    * applying legacy renames (reference: warehouse/schema.go:147-174). */
  private def findCanonical(name: String, canon: Seq[Field]): Option[Field] = {
    val lower = name.toLowerCase
    legacyRenames.get(lower) match {
      case Some(src) =>
        canon.find(_.sourceName.equalsIgnoreCase(src))
          .map(f => Field(name, f.sourceName, f.dataType))
      case None =>
        canon.find(_.dbName.equalsIgnoreCase(name))
          .map(f => Field(name, f.sourceName, f.dataType))
    }
  }

  /** Reconcile the canonical schema with a live table's ordered column list:
    * live order wins, unknown live columns are preserved as DB-only fields
    * (nil source), canonical fields missing from the live table are appended
    * at the end in canonical order
    * (reference: warehouse/schema.go:192-220 ReconcileWithExisting /
    * GetMissingFieldsFor). */
  def reconcileWithExisting(liveColumns: Seq[String],
                            includeMobile: Boolean = false): Seq[Field] = {
    val canon = canonical(includeMobile)
    val live = liveColumns.map { name =>
      findCanonical(name, canon).getOrElse(Field(name, "", NullType))
    }
    val liveSources =
      live.map(_.sourceName.toLowerCase).filter(_.nonEmpty).toSet
    val missing = canon.filterNot(f =>
      liveSources.contains(f.sourceName.toLowerCase))
    live ++ missing
  }

  /** Ordered-prefix compatibility check: an existing schema is compatible iff
    * it is an ordered prefix of the target, name-matched case-insensitively
    * AND type-matched per ordinal (reference: warehouse/schema.go:135-145
    * for the name prefix; warehouse/bigquery.go:163-194 enforces per-ordinal
    * type equality — a retyped column must be rejected, not silently
    * reconciled). `NullType` means "type unknown" (legacy name-only
    * metadata, DB-only columns) and is compatible with anything. */
  def isCompatibleWith(existing: Seq[Field], target: Seq[Field]): Boolean =
    existing.size <= target.size &&
      existing.zip(target).forall { case (a, b) =>
        a.dbName.equalsIgnoreCase(b.dbName) &&
          typeCompatible(a.dataType, b.dataType) }

  /** Fails unless the `live` table schema [[isCompatibleWith]] `target`;
    * the message lists both as `name:type`. */
  def requireCompatible(live: Seq[Field], target: Seq[Field]): Unit = {
    def show(fs: Seq[Field]) =
      fs.map(f => s"${f.dbName}:${f.dataType.catalogString}")
    require(isCompatibleWith(live, target),
      s"incompatible live schema: ${show(live)} vs ${show(target)}")
  }

  private def typeCompatible(live: DataType, target: DataType): Boolean =
    live == NullType || target == NullType || live == target

  /** Canonical fields missing from an existing schema, in canonical order
    * (reference: warehouse/schema.go:212-220; bigquery.go:266-285 uses the
    * same lowercased hash-map anti-join). */
  def missingFields(existing: Seq[Field], target: Seq[Field]): Seq[Field] = {
    val have = existing.map(_.dbName.toLowerCase).toSet
    target.filterNot(f => have.contains(f.dbName.toLowerCase))
  }

  /** The source-side field list for an export request: every non-DB-only
    * field except CustomVars, which expands to the wildcard patterns
    * (reference: warehouse/schema.go:176-190; used at internal/service.go:297). */
  def sourceFieldList(fields: Seq[Field]): Seq[String] = {
    val named = fields.collect {
      case f if !f.isDbOnly && f.sourceName != "CustomVars" => f.sourceName
    }
    named ++ wildcardFields
  }
}
