package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Json, QueryDef, Registry}

/** Same-JVM interleaved A/B of registry queries under two conf sets:
  *
  *   runMain graft.tools.Exp <sfDir> <reps> <query[,query…]> <confA> <confB>
  *
  * A conf set is `key=value[;key=value…]`, or `-` for the session as built.
  * Per query: one warm-up draw of each arm, then `reps` pairs, alternating
  * which arm goes first. A draw writes the query through the noop sink and
  * ends with `clearCache`, timed as Bench times it; its arm's conf keys are
  * set before it and restored after it. Prints one JSON line per query: both
  * draw vectors (seconds, pair order), both medians, and the pairs each arm
  * won (ties count for neither).
  */
object Exp {
  final case class Args(sfDir: String, reps: Int, queries: Seq[String],
      confA: Seq[(String, String)], confB: Seq[(String, String)])

  private val usage =
    "usage: Exp <sfDir> <reps> <query[,query…]> <confA> <confB>  " +
      "(conf set: key=value[;key=value…] or -)"

  /** Checks every argument against the registry's `known` query names
    * before any session exists.
    */
  def parse(args: Seq[String], known: Set[String]): Either[String, Args] = args match {
    case Seq(sfDir, reps, queries, confA, confB) =>
      val names = queries.split(",").toSeq.distinct
      val unknown = names.filterNot(known)
      for {
        n <- reps.toIntOption.filter(_ > 0)
          .toRight(s"reps must be a positive integer, got '$reps'")
        _ <- Either.cond(unknown.isEmpty, (),
          s"unknown query ${unknown.mkString(", ")} " +
            s"(known: ${known.toSeq.sorted.mkString(", ")})")
        a <- parseConf(confA)
        b <- parseConf(confB)
      } yield Args(sfDir, n, names, a, b)
    case _ => Left(usage)
  }

  def parseConf(s: String): Either[String, Seq[(String, String)]] =
    if (s == "-") Right(Nil)
    else {
      val entries = s.split(";").toSeq
      entries.find(e => !e.contains('=') || e.takeWhile(_ != '=').trim.isEmpty) match {
        case Some(bad) => Left(s"malformed conf entry '$bad' (want key=value)")
        case None => Right(entries.map { e =>
          val (k, v) = e.splitAt(e.indexOf('='))
          k.trim -> v.drop(1).trim
        })
      }
    }

  /** Sets `conf` for the duration of `body`, then restores each key to its
    * value before (unset when it had none).
    */
  private def withConf[T](spark: SparkSession, conf: Seq[(String, String)])(body: => T): T = {
    val before = spark.conf.getAll
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally conf.foreach { case (k, _) =>
      before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq, Registry.byName.keySet) match {
      case Right(a) => a
      case Left(err) => System.err.println(s"[exp] $err"); sys.exit(2)
    }
    val spark = GraftSession.get("exp")
    // an unsettable key (a static conf) fails here, before any job
    Seq(args.confA, args.confB).foreach(withConf(spark, _)(()))
    def draw(q: QueryDef, conf: Seq[(String, String)]): Double = withConf(spark, conf) {
      val t0 = System.nanoTime()
      q.build(spark, args.sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      dt
    }
    args.queries.map(Registry.byName).foreach { q =>
      draw(q, args.confA); draw(q, args.confB)
      val pairs = (0 until args.reps).map { i =>
        if (i % 2 == 0) { val a = draw(q, args.confA); (a, draw(q, args.confB)) }
        else { val b = draw(q, args.confB); (draw(q, args.confA), b) }
      }
      val (a, b) = pairs.unzip
      def conf(c: Seq[(String, String)]) =
        Json.str(if (c.isEmpty) "-" else c.map { case (k, v) => s"$k=$v" }.mkString(";"))
      println(Seq(
        "query" -> Json.str(q.name), "reps" -> args.reps.toString,
        "conf_a" -> conf(args.confA), "conf_b" -> conf(args.confB),
        "a_s" -> a.mkString("[", ",", "]"), "b_s" -> b.mkString("[", ",", "]"),
        "a_median_s" -> median(a).toString, "b_median_s" -> median(b).toString,
        "a_wins" -> pairs.count { case (x, y) => x < y }.toString,
        "b_wins" -> pairs.count { case (x, y) => y < x }.toString
      ).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}"))
    }
    spark.stop()
  }
}
