package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.Dataset

/** Fills the cache of a persisted DataFrame with ONE Spark job over the
  * cached relation's own RDD. A Dataset action over a not-yet-filled cache
  * runs two: adaptive execution first materializes the cache as a
  * table-cache query stage (a job of its own), then runs the action's job
  * over it. The queries that read the filled cache afterwards find it
  * loaded and run no stage for it. A DataFrame that is not persisted is
  * left alone. Lives under `org.apache.spark.sql` for the session's cache
  * manager (like [[ColumnBridge]], nothing internal is modified). */
object CachedTable {
  def fill(df: DataFrame): Unit = {
    val ds = df.asInstanceOf[Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds).foreach { c =>
      val rdd = c.cachedRepresentation.cacheBuilder.cachedColumnBuffers
      ds.sparkSession.sparkContext.runJob(rdd, (_: Iterator[_]) => ())
    }
  }
}
