package graft.operators

import org.apache.spark.sql.functions._

/** Generator for the q_bpe_encode pinned-rule oracle
  * (graft.queries.BpeOracle).
  *
  * Trains the BPE merge rules at the given SF (deterministic: the
  * per-merge argmax is total-ordered by (count desc, left, right)),
  * segments every distinct corpus word with them, and prints the Scala
  * literals for BpeOracle.pinnedRules / pinnedSegRows plus the full
  * oracle SQL. The pipeline SQL comes from BpeOracle.template — the
  * single source — so generator output and pinned oracle cannot drift.
  *
  * Run: sbt "Test/runMain graft.operators.DumpBpeOracle /root/testdata/sf0.01"
  */
object DumpBpeOracle {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.local(4, "graft-dump-bpe")

    val docs = graft.Tables.documents(spark, sfDir)
    val rules = Tokenizer.bpeTrain(docs, "text",
      merges = graft.queries.BpeOracle.merges)
    println("=== BEGIN PINNED RULES (BpeOracle.pinnedRules) ===")
    rules.foreach { case (l, r) => println(s"""    ("$l", "$r"),""") }
    println("=== END PINNED RULES ===")

    // EXACT replay of Tokenizer.encode's word extraction (lower, \s+
    // split, drop empties), one segment() per distinct word
    val words = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
      .distinct().orderBy("word")
      .collect().map(_.getString(0)).toSeq
    val segRows = words.map { w =>
      val subs = Tokenizer.segment(w, rules).map(s => s"'$s'")
      s"('$w', [${subs.mkString(", ")}])"
    }
    println("=== BEGIN SEG ROWS (BpeOracle.pinnedSegRows) ===")
    segRows.foreach(r => println("    \"" + r + "\","))
    println("=== END SEG ROWS ===")
    println("=== BEGIN BPE ORACLE SQL ===")
    println(graft.queries.BpeOracle.template(segRows))
    println("=== END BPE ORACLE SQL ===")
    spark.stop()
  }
}
