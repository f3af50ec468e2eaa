package graft

/** The one library counter the benchmark reads that is not public API: the
  * per-table count of full driver snapshot folds. Everything else the
  * benchmark calls is the public surface a library user has.
  */
object PerfbenchProbe {
  def watchFolds(tablePath: String): Unit = tables.GraftLog.watchFolds(tablePath)
  def foldCount(tablePath: String): Long = tables.GraftLog.foldCount(tablePath)
}
