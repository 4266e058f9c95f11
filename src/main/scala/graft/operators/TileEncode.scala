package graft.operators

import graft.functions.Mvt
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A5 final stage: encode each tile's pixels into an MVT binary blob.
  *
  * Spark-first shape: the per-tile payload is built inside a typed
  * `groupByKey.mapGroups` — exactly one shuffle on the tile key (the same
  * data movement as the reference's collect_list + RDD mapToPair,
  * TileMapBuilder.java:184-229, without materializing the row array in a
  * generic aggregation buffer first). Memory per group is bounded by a
  * tile's feature count (≤ tileSize² × #bors), independent of input scale.
  */
object TileEncode {
  import OccurrenceView.TileSize

  /** pixelsAtZ: (map_key, px, py, bor_year, occ_count) at zoom z →
    * (map_key, z, tx, ty, mvt bytes): [[mvtLevels]] at the one zoom z.
    */
  def mvtTiles(spark: SparkSession, pixelsAtZ: DataFrame, z: Int): DataFrame =
    mvtLevels(spark, pixelsAtZ.withColumn("z", lit(z)).select(col("map_key"),
      MapBuild.packZxy(z).as("zxy"), col("bor_year"), col("occ_count")))

  /** `MapBuild.chunkedLevels` rows of any zooms, (map_key, zxy, bor_year,
    * occ_count) → (map_key, z, tx, ty, mvt bytes). One shuffle on the packed
    * tile key, blob built inside a typed mapGroups with memory bounded by a
    * tile's feature count. (A collect_list(struct)+UDF variant was measured
    * ~20% slower — struct-array materialization in the aggregation buffer
    * outweighs staying in Tungsten rows; the reference reached the same
    * conclusion and dropped to RDDs for its encode,
    * TileMapBuilder.java:216-229.)
    */
  def mvtLevels(spark: SparkSession, levels: DataFrame): DataFrame = {
    import spark.implicits._
    val (lpx, lpy) = MapBuild.tileOffset(col("zxy"))
    val (z, tx, ty) = MapBuild.tileCols(col("ztxy"))
    levels
      .select(col("map_key"), MapBuild.ztxyOf(col("zxy")).as("ztxy"), lpx.as("lpx"),
        lpy.as("lpy"), col("bor_year").cast("long").as("bor_year"),
        col("occ_count").cast("long").as("occ_count"))
      .as[(String, Long, Int, Int, Long, Long)]
      .groupByKey { case (k, ztxy, _, _, _, _) => (k, ztxy) }
      .mapGroups { (key: (String, Long), it: Iterator[(String, Long, Int, Int, Long, Long)]) =>
        val fs = it.map { case (_, _, lpx, lpy, borYear, n) =>
          Mvt.PixelFeature(lpx, lpy, (borYear % 100).toInt, (borYear / 100).toInt, n)
        }.toArray
        (key._1, key._2, Mvt.encodeTile(fs, TileSize))
      }
      .toDF("map_key", "ztxy", "mvt")
      .select(col("map_key"), z, tx, ty, col("mvt"))
  }
}
