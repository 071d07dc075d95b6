package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generators are pure functions of the seed: the same seed gives the
  * same bytes, another seed other bytes. Runs without Spark.
  */
class GenSpec extends AnyFunSuite {
  private def bytes(lines: Iterator[String]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    lines.foreach { l => bos.write(l.getBytes("UTF-8")); bos.write('\n') }
    bos.toByteArray
  }

  private val etl = Gen.EtlParams(batchRows = 2000, repeatShare = 0.05,
    inBatchDupShare = 0.02, dropShare = 0.03, lateShare = 0.02, upperHeaderEvery = 4)
  private val text = Gen.TextParams(docs = 400, shards = 2, vocab = 2000, zipfS = 1.05,
    docChars = 300, plantedShare = 0.06, clusterSize = 3, mutateWords = 3)

  private def etlBytes(seed: Long): Array[Byte] =
    bytes((0 until 4).iterator.flatMap(b => Gen.etlBatch(seed, etl, b, b * 2000).lines))

  private def textBytes(seed: Long): Array[Byte] = {
    val vocab = Gen.vocabulary(seed, text)
    bytes((0 until text.shards).iterator.flatMap { s =>
      val sh = Gen.shard(seed, text, vocab, s)
      sh.texts.iterator ++ sh.planted.iterator.map(_.toString)
    })
  }

  private def tableBytes(seed: Long): Array[Byte] =
    bytes((0L until 5000L).iterator.map(id => Gen.initialRow(seed, id).toString))

  for ((name, gen) <- Seq[(String, Long => Array[Byte])](
      "etl_ingest" -> etlBytes, "text_dedup" -> textBytes, "table_commits" -> tableBytes)) {
    test(s"$name: same seed, same bytes; another seed, other bytes") {
      assert(gen(7L).sameElements(gen(7L)))
      assert(!gen(7L).sameElements(gen(8L)))
    }
  }

  test("etl_ingest: the shares the generator is configured with") {
    val b = Gen.etlBatch(3L, etl, 3, 6000)
    val dropped = b.expected.count(_.isEmpty).toDouble / b.lines.length
    assert(math.abs(dropped - etl.dropShare) < 0.015, s"drop share $dropped")
    assert(b.upperHeaders && b.lines.head.contains("\"ARREST_KEY\""))
  }

  test("etl_ingest model: the earliest in-batch copy of a key wins") {
    val b = Gen.etlBatch(5L, etl, 1, 0)
    val model = new EtlModel
    val winners = model.expect(b).winners.map(c => c.key -> c).toMap
    b.expected.flatten.groupBy(_.key).foreach { case (k, cs) =>
      assert(winners(k).date == cs.map(_.date).minBy(_.toEpochDay))
    }
  }

  test("text_dedup: planted pairs carry their exact 3-gram Jaccard") {
    val sh = Gen.shard(1L, text, Gen.vocabulary(1L, text), 0)
    assert(sh.planted.nonEmpty)
    val byId = sh.ids.zip(sh.texts).toMap
    sh.planted.foreach { case (a, b, j) => assert(Gen.jaccard(byId(a), byId(b)) == j) }
  }
}
