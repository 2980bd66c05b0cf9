package graft.sources

import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** File access for the split tasks of the indexed sources ([[Shapefile]]
  * record ranges, [[FileGdb]] row ranges): each task opens its file with
  * the session's Hadoop conf, broadcast once per read. A task-side
  * `new Configuration()` would re-parse Hadoop's default XML resources in
  * every task and miss the session's `spark.hadoop.*` settings (object
  * store credentials, a `fs.<scheme>.impl`). */
private[sources] object SessionFiles {

  def conf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))

  /** Run `read` over `file` opened with `conf`; the stream is closed after. */
  def withStream[A](conf: Broadcast[SerializableConfiguration], file: String)(
      read: FSDataInputStream => A): A = {
    val p = new Path(file)
    val in = p.getFileSystem(conf.value.value).open(p)
    try read(in) finally in.close()
  }
}
