package graft

import graft.plans.{GraftExtensions, ParsePositionExpression}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ParsePositionExpressionSpec extends AnyFunSuite {

  // getOrCreate would hand back the suite-wide session and silently drop
  // builder extensions — register into whatever session is active instead.
  private lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    GraftExtensions.register(s)
    s
  }

  test("native parse_position works from SQL and Column API, codegen on") {
    import spark.implicits._
    val df = Seq("{33.2, -97.8, 250.5}", " { 1e2 , +5 , -3.5 } ", "garbage",
      "{1, 2}", null)
      .toDF("p")
    df.createOrReplaceTempView("pts")

    val sqlRows = spark.sql(
      "SELECT parse_position(p) AS pos FROM pts").collect()
    assert(sqlRows(0).getStruct(0).getDouble(0) == -97.8) // lon
    assert(sqlRows(0).getStruct(0).getDouble(1) == 33.2)  // lat
    assert(sqlRows(1).getStruct(0).getDouble(0) == 5.0)
    assert(sqlRows(2).isNullAt(0) && sqlRows(3).isNullAt(0) &&
      sqlRows(4).isNullAt(0))

    val colRows = df.select(
      ParsePositionExpression.parsePositionNative(col("p")).as("pos"))
      .collect()
    assert(colRows(0).getStruct(0).getDouble(2) == 250.5) // alt

    // the projection stays inside whole-stage codegen (use a distributed
    // source — a local Seq collapses to driver-side LocalTableScan)
    val dist = spark.range(100).select(
      concat(lit("{"), col("id").cast("string"), lit(", 2, 3}")).as("p"))
    val planned = dist.select(
      ParsePositionExpression.parsePositionNative(col("p")))
    assert(planned.queryExecution.executedPlan.toString.contains("*(1)"),
      s"no codegen span:\n${planned.queryExecution.executedPlan}")
    assert(planned.collect().forall(_.getStruct(0).getDouble(1) >= 0))
  }

  test("native expression agrees with the UDF kernel on fuzzed inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val inputs = (1 to 500).map { _ =>
      rnd.nextInt(5) match {
        case 0 => s"{${rnd.nextDouble() * 90}, ${rnd.nextDouble() * -180}, ${rnd.nextDouble() * 500}}"
        case 1 => s"  { ${rnd.nextInt(100)} , ${rnd.nextInt(100)} , ${rnd.nextInt(100)} }"
        case 2 => "not a position"
        case 3 => s"{${rnd.nextDouble()}, ${rnd.nextDouble()}}"
        case _ => s"{${rnd.nextDouble()}e${rnd.nextInt(3)}, 1, 2}"
      }
    }
    val df = inputs.toDF("p")
    val native = df.select(
      ParsePositionExpression.parsePositionNative(col("p"))).collect()
    val viaUdf = df.select(
      graft.functions.Geo.parsePosition(col("p"))).collect()
    native.zip(viaUdf).zipWithIndex.foreach { case ((n, u), i) =>
      assert(n.toString == u.toString, s"row $i input '${inputs(i)}'")
    }
  }

  test("native point_in_polygon agrees with the UDF on the real polygons") {
    import graft.plans.PointInPolygonExpression
    val rnd = new scala.util.Random(31)
    val pts = (1 to 2000).map { _ =>
      (-97.8410 + rnd.nextDouble() * 0.0095,
        33.2695 + rnd.nextDouble() * 0.0075)
    }
    import spark.implicits._
    val df = pts.toDF("lon", "lat")
    val zones = graft.operators.FeatureEngineering.zonesDf(spark,
      graft.operators.FeatureEngineering.lbpZones.filter(_._1.startsWith("Pit")))
    val joined = df.crossJoin(zones)
    val nat = joined.select(
      PointInPolygonExpression.pointInPolygonNative(
        col("lon"), col("lat"), col("vertices")).as("r"))
      .collect().map(_.getBoolean(0))
    val viaUdf = joined.select(
      graft.functions.Geo.pointInPolygonCol(
        col("lon"), col("lat"), col("vertices")).as("r"))
      .collect().map(_.getBoolean(0))
    assert(nat.sameElements(viaUdf))
    assert(nat.count(identity) > 0) // some points do land in pits
  }

  test("builder extensions inject exactly the functions register installs") {
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val injected = scala.collection.mutable.ListBuffer.empty[String]
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    })
    // a fresh session stripped to the built-ins, so the registry then
    // holds exactly what register adds
    val fresh = spark.newSession()
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val registry = fresh.sessionState.functionRegistry
    val builtin = FunctionRegistry.builtin.listFunction().toSet
    registry.listFunction().filterNot(builtin).foreach(registry.dropFunction)
    GraftExtensions.register(fresh)
    val registered = registry.listFunction().filterNot(builtin)
      .map(_.funcName).toSet
    assert(injected.size == injected.toSet.size, s"duplicates in $injected")
    assert(injected.toSet == registered,
      s"apply-only: ${injected.toSet -- registered}, " +
        s"register-only: ${registered -- injected.toSet}")
  }
}
