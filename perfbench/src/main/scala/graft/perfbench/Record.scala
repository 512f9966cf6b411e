package graft.perfbench

import java.io.File

/** Records the expected output of every query the workloads run: row
  * count, and for oracle-comparable queries an order-insensitive digest.
  * Each query runs twice in each of two fresh sessions; a digest is kept
  * only when all four agree, and a row count that varies fails the
  * recording.
  *
  * Usage: Record <corpus dir> <state dir> <out tsv> <corpus key> */
object Record {
  def main(argv: Array[String]): Unit = {
    val Array(corpus, state, out, key) = argv
    val names = Queries.workloads.flatMap(_.queries).distinct.sorted
    val seen = scala.collection.mutable.LinkedHashMap[String, Seq[(Long, String)]]()
    val h = new Harness(new File(state), trace = false)
    (1 to 2).foreach { _ =>
      h.freshSession()
      Queries.workloads.flatMap(_.artifacts).foreach { case (_, build) => build(h.spark, corpus) }
      names.foreach { q =>
        (1 to 2).foreach { _ =>
          val rows = Queries.fn(q)(h.spark, corpus).collect()
          seen(q) = seen.getOrElse(q, Nil) :+ (rows.length.toLong -> Report.digest(rows))
        }
      }
    }
    h.closeSession()
    val oracle = graft.SparkEntry.oracleSql.keySet
    val lines = seen.toSeq.map { case (q, obs) =>
      require(obs.map(_._1).distinct.size == 1, s"$q: row count varies: ${obs.map(_._1)}")
      val d = obs.map(_._2).distinct
      val digest = if (oracle(q) && d.size == 1) d.head else "-"
      s"$q\t${obs.head._1}\t$digest"
    }
    Report.write(out, (s"# corpus $key: query, rows, digest (- = rows only)" +: lines).mkString("\n"))
  }
}
