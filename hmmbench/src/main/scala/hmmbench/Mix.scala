package hmmbench

import java.io.File

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import graft.queries._

/** The analyst query mix: one closed-loop client running the query
  * list pass after pass, each pass in its own seeded order.
  * An op builds one query through its family object and materialises
  * its result: the cold first pass writes it to Parquet (which the
  * oracle check reads), later passes fold every row and column into a
  * checksum (see [[Checksum.of]]) that must match the first pass's. */
object Mix {

  /** The families that need no reference data, called directly. */
  val Families: Seq[(String, QueryFamily)] = Seq(
    "Physics" -> PhysicsQueries,
    "Stage" -> StageQueries,
    "Catalyst" -> CatalystQueries,
    "CsFrame" -> CsFrameQueries,
    "Jagged" -> JaggedQueries,
    "Relational" -> RelationalQueries,
    "Lookup" -> LookupQueries,
    "WeightVariation" -> WeightVariationQueries)

  /** Twelve queries covering the six families the mix exercises; the
    * list is short enough that a cold pass and a timed pass fit the
    * benchmark's run budget. */
  val DefaultList: Seq[String] =
    "a01 a21 c01 c02 j04 l04 l12 p05 p10 p14 s02 s04".split(' ').toSeq

  final case class Query(name: String, family: String, fam: QueryFamily)

  /** The query of the eight families whose name starts with `prefix_`. */
  def resolve(prefix: String): Query = {
    val hits = for {
      (fname, fam) <- Families
      name <- fam.queries.keys if name.startsWith(prefix + "_")
    } yield Query(name, fname, fam)
    require(hits.size == 1, s"query prefix $prefix matches ${hits.map(_.name)}")
    hits.head
  }

  def run(r: Run): Unit = {
    val qs = DefaultList.map(resolve)
    def order(pass: Int): Seq[Query] =
      new scala.util.Random(r.o.seed * 1000003L + pass).shuffle(qs)
    def saved(q: Query): String = new File(r.o.out, s"oracle/${q.name}").getPath

    // the cold first pass saves every result, for the DuckDB oracle
    order(0).foreach { q =>
      r.op(0, "cold", q.name, q.family) { built =>
        val df = q.fam.queries(q.name)(r.spark, r.o.data)
        built()
        df.write.mode("overwrite").parquet(saved(q))
      }
    }
    r.setupDone()

    // later passes must match the checksums of what the first pass
    // saved, read back in parallel; a query whose read-back fails keeps
    // the failure as its reference, so each of its later ops fails with it
    val ref: Map[String, Either[String, String]] = Await.result(Future.traverse(qs) { q =>
      Future {
        q.name -> (try Right(Checksum.of(r.spark.read.parquet(saved(q))).render)
          catch {
            case e: Throwable => Left(s"reading back the first pass's result failed: " +
              s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          })
      }
    }, Duration.Inf).toMap

    // the cold pass is the warm-up; whole passes only, so every window
    // runs each query equally often, and op_p50_s rests on at least
    // twelve ops
    r.window(minUnits = 1) { (k, phase, traced) =>
      order(k + 1).foreach { q =>
        r.op(k + 1, phase, q.name, q.family, traced) { built =>
          val df = q.fam.queries(q.name)(r.spark, r.o.data)
          built()
          val cs = Checksum.of(df).render
          ref(q.name) match {
            case Left(err) => throw new IllegalStateException(err)
            case Right(want) if want != cs => throw new IllegalStateException(
              s"checksum $cs differs from the first pass's $want")
            case _ =>
          }
        }
      }
    }
    r.note("families" -> Families.map(_._1), "queries" -> qs.map(_.name),
      "checksums" -> ref.map { case (q, v) => q -> v.merge },
      "oracle_sql" -> qs.map(q => q.name -> q.fam.oracle.get(q.name)).toMap)
  }
}
