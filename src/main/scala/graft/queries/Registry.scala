package graft.queries

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** One registered query: its name, its builder over a tables dir, and
  * the DuckDB oracle the correctness gate replays it against. */
final case class QueryDef(name: String,
                          build: (SparkSession, String) => DataFrame,
                          oracle: Oracle)

sealed trait Oracle

/** ANSI SQL DuckDB runs on the same parquet tables; its columns are
  * aliased as the builder's are, since the gate sorts columns by name
  * before hashing. */
final case class Sql(text: String) extends Oracle

/** No SQL replay exists: the gate checks that the query returns rows,
  * and `reason` says why that is all it checks. */
final case class RowsOnly(reason: String) extends Oracle

/** Every family's table, and the one loop that walks it. */
object Registry {

  /** The families' tables in one sequence. */
  lazy val all: Seq[QueryDef] =
    distinctNames(Relational.registry ++ DataOps.registry ++ Crawl.registry ++ Events.registry)

  /** `defs` unchanged, or a failure naming each name registered twice:
    * a name-keyed map would keep one of them and silently drop the
    * other. */
  private[queries] def distinctNames(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val twice = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(twice.isEmpty, s"query registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    defs
  }

  /** Runs `run` on each query `SPARK_GRAFT_ONLY` selects (a
    * comma-separated name list; unset selects all), in name order. A
    * throw becomes that query's `Left` instead of ending the sweep.
    * After each query its staged checkpoint blocks are released
    * (`GraftBridge.stageLocal`'s consume boundary), so whatever the
    * caller does with an outcome sees the session without them. The
    * iterator is lazy: a query runs when its outcome is pulled. */
  def sweep[A](run: QueryDef => A): Iterator[(String, Either[Throwable, A])] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    all.filter(d => only.forall(_.contains(d.name))).sortBy(_.name).iterator.map { d =>
      val outcome = try Right(run(d)) catch { case e: Throwable => Left(e) }
      GraftBridge.releaseStaged()
      d.name -> outcome
    }
  }
}
