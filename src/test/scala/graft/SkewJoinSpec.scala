package graft

import graft.operators.SkewJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewJoinSpec extends AnyFunSuite with LocalSpark {

  test("salted join equals plain join on heavily skewed keys") {
    import spark.implicits._
    // 10k rows, 90% on one hot key
    val fact = (1 to 10000).map { i =>
      (if (i % 10 == 0) i.toLong % 5 else 42L, i.toLong, i * 1.5)
    }.toDF("k", "id", "v")
    val dim = Seq((42L, "hot"), (0L, "a"), (1L, "b"), (2L, "c"),
      (3L, "d"), (4L, "e")).toDF("k", "name")

    val plain = fact.join(dim, Seq("k"))
      .select("k", "id", "v", "name").as[(Long, Long, Double, String)]
      .collect().toSet
    val salted = SkewJoin.saltedJoin(fact, dim, "k", col("id"), salts = 8)
      .select("k", "id", "v", "name").as[(Long, Long, Double, String)]
      .collect().toSet
    assert(salted == plain)
    assert(plain.size == 10000)
  }
}
