package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** The training-vocabulary pins of throwaway [[Text.ClassifierRef]]s are
  * bounded: past [[Text.MaxVocabPins]] the oldest unpersists, and
  * `release()` drops a ref's pin early. */
class VocabPinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Whether `ref`'s weights still plan over its cached vocabulary. */
  private def pinned(ref: Text.ClassifierRef): Boolean =
    spark.sessionState.executePlan(ref.w.queryExecution.logical)
      .withCachedData.collectFirst { case r: InMemoryRelation => r }.nonEmpty

  private def corpus(words: String*): DataFrame =
    words.toDF("text")

  test("MaxVocabPins evicts the oldest pin; release() drops one early") {
    assert(Text.MaxVocabPins == 8)
    // a distinct vocabulary per ref, so no two pins share a cached plan
    val refs = (0 until 9).map { i =>
      Text.classifierTrain(corpus(s"good$i words$i"), corpus(s"bad$i junk$i"),
        "text")
    }
    try {
      assert(Text.vocabPinCount == 8)
      assert(!pinned(refs.head), "the oldest pin must be unpersisted")
      assert(refs.tail.forall(pinned))
      refs.last.release()
      assert(Text.vocabPinCount == 7)
      assert(!pinned(refs.last))
    } finally refs.foreach(_.release())
  }
}
