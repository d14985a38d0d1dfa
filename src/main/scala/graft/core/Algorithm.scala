package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The 4-stage batch-algorithm template every load/transform follows
  * (reference: src/main/scala/com/adidas/analytics/algo/core/Algorithm.scala:33-42):
  * read → transform → write → updateStatistics. Stages build lazy logical
  * plans; the first Spark action happens inside write(). Vector-of-frames in,
  * vector-of-frames out, matching the reference contract.
  */
trait Algorithm {
  def spark: SparkSession

  def read(): Vector[DataFrame]
  def transform(dataFrames: Vector[DataFrame]): Vector[DataFrame]
  def write(dataFrames: Vector[DataFrame]): Vector[DataFrame]
  def updateStatistics(dataFrames: Vector[DataFrame]): Unit = ()

  private var held = List.empty[Pinned]

  /** Keeps `p` pinned until [[run]] ends: after updateStatistics, or when
    * a stage fails. */
  protected final def holdUntilDone[P <: Pinned](p: P): P = { held ::= p; p }

  final def run(): Unit =
    try updateStatistics(write(transform(read())))
    finally { Pin.release(held: _*); held = Nil }
}
