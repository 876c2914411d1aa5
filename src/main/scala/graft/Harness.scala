package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one harness behind every main (Bench, Verify, ProbeJobs,
  * ExplainDump): the session, the entry list and the per-entry
  * persisted-RDD sweep, each defined once. */
object Harness {
  type Entry = (SparkSession, String) => DataFrame

  /** local[$SPARK_GRAFT_CPUS] session (each main passes its own default
    * core count), shuffle partitions = cpus, UTC, UI off, WARN logs. */
  def session(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** [[SparkEntry.queries]] sorted by name, restricted to the
    * comma-separated names in `only` when it is set. Left(message)
    * when `only` names no entry at all (an exported-empty variable) or
    * names one that does not exist — either would otherwise run zero
    * entries and read as success. */
  private[graft] def select(only: Option[String])
      : Either[String, Seq[(String, Entry)]] = {
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    only match {
      case None => Right(all)
      case Some(csv) =>
        val names = csv.split(',').map(_.trim).filter(_.nonEmpty).toSet
        val unknown = names -- all.map(_._1)
        if (names.isEmpty) Left("entry filter is set but names no entry")
        else if (unknown.nonEmpty)
          Left(s"unknown entries: ${unknown.toSeq.sorted.mkString(",")}")
        else Right(all.filter { case (name, _) => names(name) })
    }
  }

  /** [[select]] for a main: a bad filter prints its message to stderr
    * and exits 2. Defaults to the SPARK_GRAFT_ONLY filter. */
  def entries(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Seq[(String, Entry)] =
    select(only) match {
      case Right(es) => es
      case Left(msg) =>
        System.err.println(s"[graft] $msg")
        sys.exit(2)
    }

  /** Runs `body` (one entry), then unpersists, blocking, every
    * persisted RDD that was not present before it started: the entry's
    * leaked localCheckpoint blocks are persistent RDDs outside the
    * CacheManager, otherwise freed only when the async ContextCleaner
    * reacts to GC, so later entries would run under their eviction
    * pressure (measured: ngram 2.5 s solo vs 4.8 s late in a suite).
    * Pre-existing ids are never touched — a truncated-lineage frame
    * cannot recompute. `spareShared` keeps ids registered in
    * [[SharedFrames]]; its scaladoc gives why Bench spares them and
    * Verify does not. */
  def scoped[A](spark: SparkSession, spareShared: Boolean)(body: => A): A = {
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!preexisting.contains(id) && !(spareShared && SharedFrames.contains(id)))
        rdd.unpersist(blocking = true)
    }
  }
}
