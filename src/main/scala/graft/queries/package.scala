package graft

import scala.collection.{AbstractMapView, MapView}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

package object queries {

  /** The engine's internal clock domain is an epoch-NANOSECOND long
    * (`ts div 1000` → µs everywhere; the DuckDB oracles mirror it with
    * `epoch_ns(ts)`). Test data has shipped `ts` both as INT64
    * TIMESTAMP(NANOS) (read as long via nanosAsLong) and as plain
    * TIMESTAMP/TIMESTAMP_NTZ; normalize any timestamp-typed `ts` back
    * to epoch nanos so every query and every oracle sees one domain.
    * A plain NTZ→TIMESTAMP cast would interpret the naive wall time in
    * the SESSION timezone, so this builds the Cast with an explicit
    * `timeZoneId = UTC` instead — the same interpretation DuckDB's
    * `epoch_ns(TIMESTAMP)` uses for naive timestamps — making the
    * conversion self-contained: correct on any session regardless of
    * its timezone, with no session-state mutation. (Sessions built by
    * GraftSession/Verify/Bench/SparkSpec still pin UTC at construction
    * as the documented invariant for user-written time logic.) The
    * analyzer's ResolveTimeZone only fills EMPTY timeZoneIds, so the
    * explicit UTC survives analysis. Works on batch and streaming
    * DataFrames alike (pure projection). */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) | Some(TimestampType) =>
        val utcInstant = GraftBridge.column(
          Cast(GraftBridge.expression(col("ts")), TimestampType, Some("UTC")))
        df.withColumn(
          "ts", (unix_micros(utcInstant) * 1000L).cast(LongType))
      case _ => df
    }

  /** Root of the reference fixture tree (ROOT files used by the
    * s10/s11/l14/l15/n12 connector queries). Resolved from
    * `GRAFT_REFERENCE_DATA` (or the `graft.reference.data` system
    * property) with the documented default `/root/reference/data`, so
    * the suite is portable to machines with the checkout elsewhere. */
  def referenceDataRoot: String =
    sys.env.getOrElse("GRAFT_REFERENCE_DATA",
      sys.props.getOrElse("graft.reference.data", "/root/reference/data"))

  /** Root of the program's own fixture tree (the checkout's
    * `src/main/resources/fixtures`: JEC/b-tag CSV tables, the Runs-tree
    * ROOT files), read by l10, l12, l20, l21, l23 and s16 and by their
    * oracles. Resolved from `GRAFT_FIXTURES_DIR`, then the
    * `graft.fixtures.dir` system property, then the classpath's
    * `fixtures` resource directory when it is a plain directory (the
    * build's class directory; inside a jar DuckDB could not read it). */
  def fixturesRoot: String =
    sys.env.get("GRAFT_FIXTURES_DIR")
      .orElse(sys.props.get("graft.fixtures.dir"))
      .orElse(Option(getClass.getResource("/fixtures"))
        .filter(_.getProtocol == "file")
        .map(u => new java.io.File(u.toURI))
        .filter(_.isDirectory).map(_.getPath))
      .getOrElse(throw new IllegalStateException(
        "fixtures directory not found: set GRAFT_FIXTURES_DIR to the " +
          "program's fixture tree (src/main/resources/fixtures in the checkout)"))

  /** Resolve a fixture path under [[referenceDataRoot]], failing with a
    * clear message (instead of a deep-in-the-plan FileNotFound) when
    * the fixture tree is absent. */
  def refData(rel: String): String = {
    val p = s"$referenceDataRoot/$rel"
    if (!new java.io.File(p).exists())
      throw new IllegalStateException(
        s"reference fixture missing: $p — set GRAFT_REFERENCE_DATA to " +
          "the reference data root (default /root/reference/data)")
    p
  }

  // SQL-text mirrors of Kinematics' portable forms, shared by the
  // oracles that spell them (same expression tree on both engines).
  private[queries] def sinhS(x: String) = s"((EXP($x) - EXP(-($x))) / 2.0)"
  private[queries] def pzS(pt: String, eta: String) = s"(($pt) * ${sinhS(eta)})"
  /** Energy of a muon-mass (0.1057) object. */
  private[queries] def muES(pt: String, eta: String) =
    s"SQRT(($pt) * ($pt) + ${pzS(pt, eta)} * ${pzS(pt, eta)} + 0.1057 * 0.1057)"

  /** A query family contributes driver-checkable queries + DuckDB oracles. */
  trait QueryFamily {
    def queries: Map[String, (SparkSession, String) => DataFrame]

    /** DuckDB oracle SQL per query key. Creating a family reads no
      * file, and reading one key builds only that key's oracle: an
      * oracle derived from a fixture (via [[refData]]) is built when
      * its key is read (see [[withDeferred]]), so a missing fixture
      * fails only the query or oracle that needs it, with `refData`'s
      * message naming the file. Iterating the view builds them all;
      * listing its keys builds none. */
    def oracle: MapView[String, String]

    /** The `strict` oracles plus the `deferred` ones, each of which is
      * built when its key is read. A deferred value should be a
      * `lazy val`, so that reading it again costs nothing. */
    protected def withDeferred(strict: Map[String, String],
        deferred: (String, () => String)*): MapView[String, String] = {
      val later = deferred.toMap
      new AbstractMapView[String, String] {
        def get(key: String): Option[String] =
          strict.get(key).orElse(later.get(key).map(_()))
        def iterator: Iterator[(String, String)] =
          strict.iterator ++ later.iterator.map { case (k, v) => k -> v() }
        override def keysIterator: Iterator[String] =
          strict.keysIterator ++ later.keysIterator
      }
    }
    protected def t(dir: String, name: String): String = s"$dir/$name.parquet"

    /** Read a test table. `events.parquet` has carried an INT64
      * TIMESTAMP(NANOS) column that Spark 4 refuses by default
      * (PARQUET_TYPE_ILLEGAL); the session `GraftSession` builds reads
      * it as a long (nanosAsLong), and so do its `newSession()`
      * children. Timestamp columns named `ts` are normalized to the
      * epoch-nanos long domain (see [[normalizeEventTs]], which carries
      * its own UTC cast — no session mutation). */
    protected def rd(s: SparkSession, dir: String, name: String): DataFrame =
      normalizeEventTs(s.read.parquet(t(dir, name)))
  }
}
