package perfbench

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class TweetGenSpec extends AnyFunSuite {

  private def write(seed: Long): Array[Byte] = {
    val dir = Files.createTempDirectory("tweetgen")
    val gen = new TweetGen(seed)
    val f = gen.writeFile(dir, "a.json", 3000, () => 1756684800000L)
    try Files.readAllBytes(f) finally { Files.delete(f); Files.delete(dir) }
  }

  test("the same seed writes byte-identical files") {
    assert(java.util.Arrays.equals(write(7), write(7)))
    assert(!java.util.Arrays.equals(write(7), write(8)))
  }

  test("lines mix malformed, repeated and non-English envelopes in the stated shares") {
    val gen = new TweetGen(3)
    val lines = (0 until 20000).map(_ => gen.nextLine(0L))
    val malformed = gen.malformed.size / 20000.0
    val wellFormed = lines.filterNot(gen.malformed.toSet)
    val repeated = 1.0 - wellFormed.distinct.size.toDouble / wellFormed.size
    val foreign = wellFormed.distinct.count(!_.contains("\"lang\": \"en\"")).toDouble / wellFormed.distinct.size
    assert(malformed > 0.005 && malformed < 0.015, malformed)
    assert(repeated > 0.03 && repeated < 0.07, repeated)
    assert(foreign > 0.07 && foreign < 0.13, foreign)
    assert(wellFormed.forall(_.contains("\"includes\": {\"users\": [{")))
  }

  test("texts are 5 to 50 tokens") {
    val gen = new TweetGen(5)
    val texts = (0 until 2000).map(i => gen.sampleText(i))
    val counts = texts.map(_.split(" ").length)
    assert(counts.min >= 5 && counts.max <= 50)
    assert(counts.max > 40)
  }
}
