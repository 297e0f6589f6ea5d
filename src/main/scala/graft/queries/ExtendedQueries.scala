package graft.queries

/** Aggregation point for the extended-coverage waves. The former
  * 6,300-line single file is split by wave (VERDICT r11 #6) into
  * [[ExtendedCoreQueries]], [[ExtendedAnalyticsQueries]], and
  * [[ExtendedStatsQueries]]; this object keeps the registration
  * contract (`defs`) stable for [[graft.SparkEntry]].
  */
object ExtendedQueries {
  import ParityQueries.Q

  val defs: Seq[(String, Q, Option[String])] =
    ExtendedCoreQueries.defs ++ ExtendedAnalyticsQueries.defs ++
      ExtendedStatsQueries.defs
}
