package perfbench

import java.io.File

/** Checks the generators: the same seed gives byte-identical inputs and
  * another seed gives different ones, for every workload.
  *
  * {{{
  * InputCheck <scratch dir>
  * }}}
  */
object InputCheck {
  def main(args: Array[String]): Unit = {
    val dir = new File(args(0))
    val bad = Workload.all.flatMap { w =>
      def gen(seed: Long, tag: String): String = {
        val d = new File(dir, s"${w.name}-$tag")
        Workload.deleteTree(d)
        w.generate(seed, d)
        val h = Inputs.digest(d)
        Workload.deleteTree(d)
        h
      }
      val a = gen(11, "a")
      val b = gen(11, "b")
      val c = gen(12, "c")
      println(s"${w.name}: seed 11 $a, again $b, seed 12 $c")
      (if (a != b) Seq(s"${w.name}: the same seed gave different inputs") else Nil) ++
        (if (a == c) Seq(s"${w.name}: different seeds gave the same inputs") else Nil)
    }
    Workload.deleteTree(dir)
    bad.foreach(println)
    System.exit(if (bad.isEmpty) 0 else 1)
  }
}
