package graft

import org.apache.spark.sql.DataFrame
import graft.io.ParquetTableIO

/** A [[ParquetTableIO]] that records every table it writes: resume tests
  * assert which stages a resumed run re-executed. */
class CountingIO(root: String) extends ParquetTableIO(root) {
  val written = scala.collection.mutable.ArrayBuffer[String]()
  override def write(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit = {
    written += table; super.write(df, table, partitionBy)
  }
}
