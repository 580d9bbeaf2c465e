package enginebench

import graft.catalog.{GraftTable, RelativeCatalog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier

object Tables {
  /** A table of the benchmark's `bench.b` namespace, straight from the catalog. */
  def load(spark: SparkSession, name: String): GraftTable =
    spark.sessionState.catalogManager.catalog("bench").asInstanceOf[RelativeCatalog]
      .loadTable(Identifier.of(Array("b"), name)).asInstanceOf[GraftTable]

  def dir(spark: SparkSession, name: String): java.io.File = new java.io.File(new java.net.URI(
    spark.conf.get("spark.sql.catalog.bench.warehouse").stripSuffix("/") + "/b/" + name))
}
