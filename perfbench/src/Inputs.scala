package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded input generators. Every generator writes plain text with one
  * single-threaded writer, so the same seed gives byte-identical files and
  * the program under test receives only these files. */
object Inputs {

  private def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
  }

  /** Stream seeds derived from the run seed, one per generator part, so
    * changing the size of one part leaves the others' draws unchanged. */
  private def rng(seed: Long, part: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + part)

  // ---------------------------------------------------------------------
  // Telemetry CSV (pipeline workload)

  /** A load change planted on a reliable-payload device: the load weight
    * starts ramping to the other level at `epochSec`. */
  final case class LoadStep(deviceId: String, epochSec: Long)

  final case class Telemetry(rows: Long, bytes: Long, steps: Seq[LoadStep])

  /** Interior points of the seven zone polygons (vertex means; every
    * polygon is convex enough for its mean to lie inside), lat/lon. */
  private def zoneCentres: IndexedSeq[(Double, Double)] =
    graft.operators.FeatureEngineering.lbpZones.map { case (_, vs) =>
      (vs.map(_._2).sum / vs.size, vs.map(_._1).sum / vs.size)
    }.toIndexedSeq

  /** Telemetry in the reference's 11-column CSV layout, 1 Hz per device.
    * Half the devices carry a reliable payload sensor (load ramps between
    * empty and full levels, so the payload CPD branch runs); the
    * other half read a flat, noisy load (the kinematic branch runs PELT
    * over speed and altitude). Stationary and moving segments alternate,
    * and about a quarter of segments sit inside a zone polygon. */
  def telemetry(seed: Long, out: File, devices: Int, days: Int,
      secondsPerDay: Int): Telemetry = {
    val r = rng(seed, 1)
    val zones = zoneCentres
    val day0 = java.time.LocalDate.of(2025, 7, 30).toEpochDay * 86400L
    val ids = (0 until devices).map { d =>
      f"lake-${Seq("605", "775g", "793f")(d % 3)}-${d % 9}-${r.nextInt(10000)}%04d"
    }
    val reliable = ids.indices.filter(_ % 2 == 0).map(ids)
    val steps = Vector.newBuilder[LoadStep]
    val w = writer(out)
    var rows = 0L
    try {
      w.write(graft.schema.Schemas.rawCsvColumns.mkString(","))
      w.write('\n')
      val fmt = new java.text.DecimalFormat("0.00000",
        java.text.DecimalFormatSymbols.getInstance(java.util.Locale.ROOT))
      val ts = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
      ts.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      for (dev <- ids; day <- 0 until days) {
        val isReliable = reliable.contains(dev)
        var loaded = r.nextBoolean()
        var alt = 240.0 + r.nextDouble() * 20
        var t = 0
        var seg = 0
        while (t < secondsPerDay) {
          val moving = seg % 2 == 1
          val len = math.min(secondsPerDay - t,
            if (moving) 120 + r.nextInt(480) else 180 + r.nextInt(360))
          val inZone = r.nextInt(4) == 0
          val (lat0, lon0) =
            if (inZone) zones(r.nextInt(zones.size))
            else (33.20 + r.nextDouble() * 0.03, -97.90 + r.nextDouble() * 0.03)
          val heading = r.nextDouble() * 2 * math.Pi
          val cruise = 4.0 + r.nextDouble() * 8
          val climb = (r.nextDouble() - 0.5) * 0.2
          // reliable devices load or dump inside every other long
          // stationary segment: the level ramps between empty and full
          // over 75-150 s, the span of a few shovel passes
          val rampLen = 75 + r.nextInt(76)
          val stepAt =
            if (isReliable && !moving && seg % 4 == 0 && len >= rampLen + 120)
              60 + r.nextInt(len - rampLen - 119) else -1
          var i = 0
          while (i < len) {
            val sec = day0 + day * 86400L + t + i
            if (i == stepAt) {
              loaded = !loaded
              steps += LoadStep(dev, sec)
            }
            val ramp = if (stepAt >= 0 && i >= stepAt && i < stepAt + rampLen)
              (i - stepAt).toDouble / rampLen else 1.0
            val speed = if (moving) math.max(0.6, cruise + r.nextGaussian())
              else r.nextDouble() * 0.3
            if (moving) alt += climb + r.nextGaussian() * 0.05
            val drift = if (moving) i * 0.00004 else 0.0
            val lat = lat0 + drift * math.sin(heading) + r.nextGaussian() * 1e-6
            val lon = lon0 + drift * math.cos(heading) + r.nextGaussian() * 1e-6
            val load =
              if (isReliable) {
                val level = if (loaded) 10000 + 80000 * ramp else 90000 - 80000 * ramp
                level.toInt + r.nextInt(401) - 200
              }
              else 42000 + r.nextInt(601) - 300
            w.write(ts.format(new java.util.Date(sec * 1000L)))
            w.write("+00,")
            w.write(dev)
            w.write(if (moving) (if (loaded) ",LoadToDump,start,t," else ",DumpToLoad,start,t,")
              else if (inZone) ",LoadingManeuver,wait,t," else ",Idle,wait,f,")
            w.write(fmt.format(speed))
            w.write(",\"{")
            w.write(fmt.format(lat)); w.write(", ")
            w.write(fmt.format(lon)); w.write(", ")
            w.write(fmt.format(alt))
            w.write("}\",")
            w.write(Integer.toString(load))
            w.write(if (moving) ",d,f," else ",p,t,")
            if (r.nextInt(100) == 0) w.write("\"{\"\"seg\"\": " + seg + "}\"")
            w.write('\n')
            rows += 1
            i += 1
          }
          t += len
          seg += 1
        }
      }
    } finally w.close()
    Telemetry(rows, out.length(), steps.result())
  }

  // ---------------------------------------------------------------------
  // Document corpus (index_ingest workload)

  /** `planted`: ids of the batch documents planted as near-duplicates of
    * a base document or of a clean document of an earlier batch. */
  final case class Corpus(textBytes: Long, planted: Seq[Long])

  private val vocab: IndexedSeq[String] = (0 until 20000).map { i =>
    val sb = new StringBuilder
    var k = i + 26 * 26
    while (k > 0) { sb.append(('a' + k % 26).toChar); k /= 26 }
    sb.toString
  }

  private def randomDoc(r: SplittableRandom): Array[String] =
    Array.fill(40 + r.nextInt(61)) {
      // mildly skewed draw: common words recur, as in real text
      val u = r.nextDouble()
      vocab((u * u * vocab.size).toInt)
    }

  /** `base.tsv` plus `batch-<b>.tsv`, each line `id<TAB>text`. A fifth of
    * every batch is planted: a copy of an earlier document with each word
    * replaced with probability 0.05. */
  def corpus(seed: Long, dir: File, baseDocs: Int, batches: Int,
      batchDocs: Int): Corpus = {
    val r = rng(seed, 2)
    val texts = scala.collection.mutable.HashMap[Long, Array[String]]()
    var bytes = 0L
    def emit(w: BufferedWriter, id: Long, doc: Array[String]): Unit = {
      val line = s"$id\t${doc.mkString(" ")}\n"
      bytes += line.length - id.toString.length - 2
      w.write(line)
    }
    val wb = writer(new File(dir, "base.tsv"))
    try (0 until baseDocs).foreach { i =>
      val d = randomDoc(r); texts(i.toLong) = d; emit(wb, i.toLong, d)
    } finally wb.close()
    val planted = Vector.newBuilder[Long]
    var clean = Vector.empty[Long] // unplanted batch docs: they get appended
    for (b <- 0 until batches) {
      val w = writer(new File(dir, s"batch-$b.tsv"))
      val cleanHere = Vector.newBuilder[Long]
      try for (j <- 0 until batchDocs) {
        val id = baseDocs.toLong + b.toLong * batchDocs + j
        val doc =
          if (r.nextInt(5) == 0) {
            val src =
              if (clean.nonEmpty && r.nextInt(4) == 0) clean(r.nextInt(clean.size))
              else r.nextInt(baseDocs).toLong
            planted += id
            texts(src).map(wd =>
              if (r.nextInt(20) == 0) vocab(r.nextInt(vocab.size)) else wd)
          } else {
            cleanHere += id
            randomDoc(r)
          }
        texts(id) = doc
        emit(w, id, doc)
      } finally w.close()
      clean ++= cleanHere.result()
    }
    Corpus(bytes, planted.result())
  }

  // ---------------------------------------------------------------------
  // TPC-H-shaped tables plus an events stream (eda_mix workload)

  /** Row counts of the generated tables, and the bytes of their text. */
  final case class TableSet(rows: Map[String, Long], textBytes: Long)

  /** Column DDL of the tables the mix reads, in the layout of the
    * repository's query testdata (TESTDATA.md), in file column order. */
  val tableSchemas: Seq[(String, String)] = Seq(
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, " +
      "l_shipdate TIMESTAMP"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"))

  /** The timestamp layout of the table text files. */
  val tableTimestampFormat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** One `<table>.tsv` per table under `dir`, values drawn the way the
    * query testdata draws them: customers in 25 nations, orders over
    * 1995-2001, lineitems shipped 1-120 days after their order, events
    * over 30 days of January 2024 from 150 users. */
  def tables(seed: Long, dir: File, customers: Int, orders: Int, lineitems: Int,
      events: Int): TableSet = {
    val r = rng(seed, 3)
    val tsFmt = java.time.format.DateTimeFormatter.ofPattern(tableTimestampFormat)
    def ts(epochMicros: Long): String = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(epochMicros, 1000000L), (Math.floorMod(epochMicros, 1000000L) * 1000).toInt,
      java.time.ZoneOffset.UTC).format(tsFmt)
    def num2(x: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))
    def money(lo: Double, hi: Double): String = num2(lo + r.nextDouble() * (hi - lo))
    def pick(xs: Seq[String]): String = xs(r.nextInt(xs.size))
    val rows = scala.collection.mutable.LinkedHashMap[String, Long]()
    var bytes = 0L
    def table(name: String, n: Int)(line: Int => String): Unit = {
      val w = writer(new File(dir, s"$name.tsv"))
      try (0 until n).foreach { i =>
        val l = line(i) + "\n"
        bytes += l.length
        w.write(l)
      } finally w.close()
      rows(name) = n
    }
    val day = 86400L * 1000000L
    val epoch1995 = java.time.LocalDate.of(1995, 1, 1).toEpochDay * day
    val epoch2024 = java.time.LocalDate.of(2024, 1, 1).toEpochDay * day

    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    table("customer", customers)(i =>
      f"$i\tCustomer#$i%09d\t${r.nextInt(25)}\t${money(-999.99, 9999.99)}\t${pick(segments)}")
    val orderDate = Array.fill(orders)(epoch1995 + r.nextInt(2400) * day)
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    table("orders", orders)(i =>
      s"$i\t${r.nextInt(customers)}\t${pick(Seq("F", "O", "P"))}\t" +
        s"${money(1000, 500000)}\t${ts(orderDate(i))}\t${pick(priorities)}")
    table("lineitem", lineitems) { _ =>
      val o = r.nextInt(orders)
      // part and supplier keys as in the testdata's 2,000 parts and 100
      // suppliers; the mix reads neither table
      val p = r.nextInt(2000)
      val qty = 1 + r.nextInt(50)
      s"$o\t$p\t${r.nextInt(100)}\t${1 + r.nextInt(7)}\t$qty.0\t" +
        s"${num2(qty * (900.0 + (p % 1000) / 10.0) * (0.9 + r.nextDouble() * 0.2))}\t" +
        s"${num2(r.nextInt(11) / 100.0)}\t${num2(r.nextInt(9) / 100.0)}\t" +
        s"${pick(Seq("A", "N", "R"))}\t${pick(Seq("F", "O"))}\t" +
        ts(orderDate(o) + (1 + r.nextInt(120)) * day)
    }
    // event times increase with the id, as in the testdata
    var t = epoch2024
    val gap = 30 * day / events
    val eventTypes = Seq("click", "error", "purchase", "signup", "view")
    table("events", events) { i =>
      t += 1 + (r.nextDouble() * 2 * gap).toLong
      val u = r.nextDouble()
      s"$i\t${ts(t)}\t${r.nextInt(150)}\t${pick(eventTypes)}\t" +
        s"${num2(0.01 + u * u * u * 490)}\t{\"k\": ${r.nextInt(100)}}"
    }
    TableSet(rows.toMap, bytes)
  }

  /** SHA-256 over every regular file under `dir`, in path order. */
  def digest(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    walk(dir).foreach { f =>
      md.update(dir.toPath.relativize(f.toPath).toString.getBytes(StandardCharsets.UTF_8))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
