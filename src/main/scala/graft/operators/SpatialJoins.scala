package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions._

/** Distributed spatial joins via grid blocking.
  *
  * Re-expresses the reference's O(n^2)-breaking manual optimizations as
  * shuffle-friendly equi-joins Catalyst can plan (grid blocking
  * `/root/reference/etl/er.py:164-194`, kNN `/root/reference/scripts/run_airbnb.py:33-58`).
  *
  * Scale notes (100 TB): both joins shuffle on the integer cell key, so
  * co-location is by spatial locality; dense urban cells are the skew risk —
  * AQE skew-join splits oversized cell groups at runtime (unlike the
  * reference's silent 400-pair scan cap, nothing is dropped).
  */
object SpatialJoins {

  /** All pairs (a, b) with a.id < b.id and haversine(a,b) <= radiusM.
    *
    * One side explodes over its 9 neighbor cells, the other keeps its home
    * cell; the join is then a plain equi-join on (extraKeys..., cell), so
    * each qualifying pair is produced exactly once (B's home cell is one of
    * A's 9 neighbors iff their cells are adjacent).
    *
    * Output columns: a_id, b_id, a_lat, a_lon, b_lat, b_lon, meters
    * (+ a_/b_-prefixed extraKeys).
    *
    * @param cellDeg grid size in degrees; must cover radiusM at the data's
    *                latitudes (reference: 0.01 deg for 250 m)
    */
  def gridSelfJoin(df: DataFrame, idCol: String, latCol: String, lonCol: String,
                   radiusM: Double, cellDeg: Double = 0.01,
                   extraKeys: Seq[String] = Nil): DataFrame = {
    val base = df.select((Seq(idCol, latCol, lonCol) ++ extraKeys).distinct.map(col): _*)
    val aCols = Seq(col(idCol).as("a_id"), col(latCol).as("a_lat"),
      col(lonCol).as("a_lon"), col("cell").as("a_cell")) ++
      extraKeys.map(k => col(k).as(s"a_$k"))
    val bCols = Seq(col(idCol).as("b_id"), col(latCol).as("b_lat"),
      col(lonCol).as("b_lon"), col("cell").as("b_cell")) ++
      extraKeys.map(k => col(k).as(s"b_$k"))
    val a = base
      .withColumn("cell", explode(neighborCellKeys(col(latCol), col(lonCol), cellDeg)))
      .select(aCols: _*)
    val b = base
      .withColumn("cell", cellKey(col(latCol), col(lonCol), cellDeg))
      .select(bCols: _*)
    val joinCond = extraKeys.map(k => col(s"a_$k") === col(s"b_$k"))
      .foldLeft(col("a_cell") === col("b_cell") && col("a_id") < col("b_id"))(_ && _)
    a.join(b, joinCond)
      .withColumn("meters",
        haversineM(col("a_lat"), col("a_lon"), col("b_lat"), col("b_lon")))
      .where(col("meters") <= radiusM)
      .drop("a_cell", "b_cell")
  }

  /** For each left row, its nearest right row (k=1) within thresholdM,
    * blocked on equi-`blockKeys` (e.g. the city column) — the shape of the
    * reference's listing->place NEAR join. Ties on distance break by right id
    * ascending, making the result deterministic.
    *
    * Left/right must expose `lat`/`lon` columns. */
  def nearestJoin(left: DataFrame, right: DataFrame,
                  leftId: String, rightId: String,
                  thresholdM: Double, blockKeys: Seq[String]): DataFrame = {
    val l = left.select((Seq(leftId, "lat", "lon") ++ blockKeys).distinct.map(col): _*)
      .withColumnRenamed("lat", "l_lat").withColumnRenamed("lon", "l_lon")
    val r = right.select((Seq(rightId, "lat", "lon") ++ blockKeys).distinct.map(col): _*)
      .withColumnRenamed("lat", "r_lat").withColumnRenamed("lon", "r_lon")
    val joined = l.join(r, blockKeys)
      .withColumn("meters",
        haversineM(col("l_lat"), col("l_lon"), col("r_lat"), col("r_lon")))
      .where(col("meters") <= thresholdM)
    val w = Window.partitionBy(leftId).orderBy(col("meters").asc, col(rightId).asc)
    joined.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
  }

  /** All (left, right) pairs within thresholdM, grid-blocked — the
    * two-table analogue of gridSelfJoin (backs `listings_nearby`-style
    * counts: every NEAR edge, not just the nearest).
    * Output: leftId, rightId, meters. */
  def gridWithinJoin(left: DataFrame, right: DataFrame,
                     leftId: String, rightId: String,
                     thresholdM: Double, cellDeg: Double = 0.01): DataFrame = {
    val l = left.select(col(leftId), col("lat").as("l_lat"), col("lon").as("l_lon"))
      .withColumn("cell", explode(neighborCellKeys(col("l_lat"), col("l_lon"), cellDeg)))
    val r = right.select(col(rightId), col("lat").as("r_lat"), col("lon").as("r_lon"))
      .withColumn("cell", cellKey(col("r_lat"), col("r_lon"), cellDeg))
    l.join(r, "cell")
      .withColumn("meters",
        haversineM(col("l_lat"), col("l_lon"), col("r_lat"), col("r_lon")))
      .where(col("meters") <= thresholdM)
      .select(col(leftId), col(rightId), col("meters"))
  }
}
