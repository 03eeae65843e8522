package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** SQL-callable surface for the graft scalar functions.
  *
  * The reference's ad-hoc SQL path (src/webserver/dbapp.py:126-232)
  * hands user SQL to Postgres, where the q3c extension supplies
  * `q3c_radial_query` / `q3c_dist` and the schema's conventions supply
  * flux↔mag and MJD arithmetic. A user migrating that SQL needs the
  * same names resolvable by `spark.sql` — so every function here is
  * injected into each session at build: `GraftSession.create` builds
  * with [[GraftExtensions]], and cluster deploys name the same class in
  * `spark.sql.extensions`.
  *
  * Each builder composes *built-in* column expressions (or the custom
  * codegen'd [[DotProduct]]), so the SQL surface inherits whole-stage
  * codegen — these are Catalyst expression trees, not UDFs: a
  * `WHERE q3c_radial_query(...)` predicate stays inside the scan's
  * codegen stage, and the dec-band conjunct it expands to (a plain
  * column range test, asserted sargable in SqlFunctionsSpec) pushes
  * down to the parquet scan for row-group skipping.
  */
object SqlFunctions {

  /** name → (usage doc, accepted arities, column-level builder). */
  final case class Fn(name: String, usage: String, arities: Set[Int],
      build: Seq[Column] => Column)

  /** The q3c radius / distance arguments are in DEGREES, matching the
    * public q3c API (q3c_radial_query(ra, dec, center_ra, center_dec,
    * radius_deg) used throughout the reference's example queries). */
  val all: Seq[Fn] = Seq(
    Fn("q3c_dist",
      "q3c_dist(ra1, dec1, ra2, dec2) - great-circle separation in degrees",
      // builds the recognizable GreatCircleDist anchor (bit-identical
      // to Funcs.greatCircleDeg) so SargableCone can rewrite naive
      // `q3c_dist(...) <= r` predicates into pushdown-able dec bands
      // children converted EAGERLY: the lazy Column→Expression wrapper
      // is only unwrapped at the start of analysis, and this builder
      // runs during analysis (see Bridge.toExpressionEager)
      Set(4), a => Bridge.toColumn(graft.spatial.GreatCircleDist(
        Bridge.toExpressionEager(a(0).cast("double")),
        Bridge.toExpressionEager(a(1).cast("double")),
        Bridge.toExpressionEager(a(2).cast("double")),
        Bridge.toExpressionEager(a(3).cast("double"))))),
    Fn("q3c_radial_query",
      "q3c_radial_query(ra, dec, center_ra, center_dec, radius_deg) - true iff within the cone",
      // the dec-band conjunct is implied by the haversine cut
      // (|Δdec| ≤ great-circle separation) so it never changes the
      // result — but it is a plain `dec >= lo AND dec <= hi`
      // comparison on the column, which Catalyst CAN push into the
      // parquet scan for row-group min/max skipping, where the
      // trig expression cannot. This is what q3c's index does on
      // Postgres; without it a cone WHERE full-scans 100 TB.
      Set(5), a => (a(1) >= a(3) - a(4)) && (a(1) <= a(3) + a(4)) &&
        (Funcs.greatCircleDeg(a(0), a(1), a(2), a(3)) <= a(4))),
    Fn("flux2mag",
      "flux2mag(flux_njy) - AB magnitude at the survey zeropoint 31.4",
      Set(1), a => Funcs.flux2mag(a(0))),
    Fn("mag2flux",
      "mag2flux(mag) - flux in nJy at the survey zeropoint 31.4",
      Set(1), a => Funcs.mag2flux(a(0))),
    Fn("mjd_to_timestamp",
      "mjd_to_timestamp(mjd) - MJD (UTC) to timestamp",
      Set(1), a => Funcs.mjdToTimestamp(a(0))),
    Fn("timestamp_to_mjd",
      "timestamp_to_mjd(ts) - timestamp to MJD (UTC), microsecond precision",
      Set(1), a => Funcs.timestampToMjd(a(0))),
    Fn("zone_id",
      "zone_id(dec, zone_height_deg) - dense integer declination zone",
      Set(2), a => graft.spatial.Spatial.zoneId(a(0), a(1))),
    Fn("has_any_bit",
      "has_any_bit(field, mask) - true iff field AND mask is nonzero",
      Set(2), a => a(0).bitwiseAND(a(1)) =!= 0),
    Fn("dot_product",
      "dot_product(a, b) - elementwise dot product of two numeric arrays",
      Set(2), a => VectorExprs.dotProduct(a(0), a(1))),
    Fn("cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two numeric arrays",
      Set(2), a => graft.pipeline.Similarity.cosine(a(0), a(1))),
    // text-pipeline scalars: the training-data operators' per-row
    // primitives, callable from ad-hoc SQL just like the astronomy set
    Fn("token_count",
      "token_count(text) - whitespace token count",
      Set(1), a => graft.pipeline.TextAnalysis.tokenCount(a(0))),
    Fn("bpeish_token_count",
      "bpeish_token_count(text) - GPT-style pre-tokenizer token count",
      Set(1), a => graft.pipeline.TextAnalysis.bpeishTokenCount(a(0))),
    Fn("lang_id",
      "lang_id(text) - heuristic stopword-argmax language id",
      Set(1), a => graft.pipeline.TextAnalysis.langId(a(0))),
    Fn("quality_score",
      "quality_score(text) - composite [0,1] document quality",
      Set(1), a => graft.pipeline.TextAnalysis.qualityScore(a(0))),
    Fn("doc_fingerprint",
      "doc_fingerprint(text) - 63-bit rolling-hash fingerprint",
      Set(1), a => graft.pipeline.TextAnalysis.fingerprint(a(0))),
    Fn("nfc_normalize",
      "nfc_normalize(text) - Unicode NFC canonical composition (same name/semantics as DuckDB/Postgres normalize)",
      Set(1), a => VectorExprs.nfcNormalize(a(0))))

  private def builder(f: Fn)(args: Seq[Expression]): Expression = {
    require(f.arities(args.length),
      s"${f.name} expects ${f.arities.toSeq.sorted.mkString("/")} arguments, got ${args.length}")
    Bridge.toExpressionEager(f.build(args.map(Bridge.toColumn)))
  }

  private def info(f: Fn): ExpressionInfo =
    new ExpressionInfo("graft", null, f.name, f.usage, "")

  /** The one injection path: every function and the SargableCone
    * rule, at session build ([[GraftExtensions]]). */
  def inject(ext: SparkSessionExtensions): Unit = {
    all.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name), info(f), builder(f) _))
    }
    ext.injectOptimizerRule(_ => graft.spatial.SargableCone)
  }
}

/** The graft SQL surface as a session extension: `GraftSession.create`
  * builds with it, and `--conf spark.sql.extensions=graft.functions
  * .GraftExtensions` applies it on a cluster; every session the builder
  * creates then resolves the graft SQL functions without per-session
  * setup. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = SqlFunctions.inject(ext)
}
