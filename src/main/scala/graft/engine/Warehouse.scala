package graft.engine

import java.nio.file.{Files, LinkOption, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The warehouse directory and the one recursive delete the write path
  * uses. The commit journal, the staging root, the table manifest, the
  * snapshot tombstones and the commit-lock fences all live under the
  * warehouse, beside the tables they describe.
  */
object Warehouse {

  /** Local path of `spark.sql.warehouse.dir`. */
  def path(spark: SparkSession): Path = {
    val raw = spark.conf.get("spark.sql.warehouse.dir",
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse")
    Paths.get(raw.stripPrefix("file:"))
  }

  /** Delete `p` and everything under it. A symlink is removed, never
    * followed. Callers that take the path from a journal or tombstone
    * check it sits under [[TxnJournal.stageRoot]] first.
    */
  def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.foreach(deleteTree) finally s.close()
    }
    Files.deleteIfExists(p)
    ()
  }
}
