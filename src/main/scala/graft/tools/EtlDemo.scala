package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Pipeline, Session}
import graft.serve.QueryRegistry

/** Drives the full medallion pipeline end-to-end on sample CSVs:
  * landing → raw (routed, hive-partitioned) → processed (typed
  * parquet) → warehouse (keyed upsert) → the reference's analytic
  * queries. Usage: `sbt "runMain graft.tools.EtlDemo [workDir]"`. */
object EtlDemo {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args.headOption.getOrElse(
      Files.createTempDirectory("graft-etl-demo").toString))
    val spark = Session.local()

    val landing = work.resolve("landing")
    Files.createDirectories(landing)
    def put(name: String, text: String): Unit =
      Files.writeString(landing.resolve(name), text)

    put("proveedores_demo.csv",
      """ID_Proveedor,NombreProveedor,TipoEnergia,PaisOrigen,FechaInicioContrato
        |P1,Solar del Sur,Solar,ES,2024-01-05
        |P2,Vientos Andinos,Eolica,AR,2023-02-01
        |P3,Hidro Norte,Hidraulica,ES,2022-03-10
        |""".stripMargin)
    put("clientes_demo.csv",
      """ID_Cliente,NombreCliente,TipoCliente,Direccion,Ciudad,Pais
        |C1,Ana Perez,Cliente Residencial,Calle 1,Madrid,ES
        |C2,Acme SA,Comercial,Av 2,Bogota,CO
        |C3,MetalCorp,Industrial,Ruta 3,Lima,PE
        |""".stripMargin)
    put("transacciones_demo.csv",
      """ID_Transaccion,ID_Cliente,ID_Proveedor,FechaTransaccion,CantidadEnergiaMWh,PrecioPorMWh
        |T1,C1,P1,2025-03-01 10:00:00,10.0,50.0
        |T2,C2,P2,2025-04-01 11:00:00,20.0,30.0
        |T3,C3,P3,2024-05-01 12:00:00,5.0,100.0
        |""".stripMargin)

    val files = Pipeline.runBatch(spark, landing,
      work.resolve("lake"), s"$work/lake/processed", s"$work/lake/warehouse")
    println(s"ingested ${files.length} files: " +
      files.map(f => s"${f.sourceFile} -> ${f.kind.targetTable}").mkString(", "))

    Pipeline.registerWarehouse(spark, s"$work/lake/warehouse")
    QueryRegistry.runAll(spark).toSeq.sortBy(_._1).foreach { case (name, df) =>
      println(s"== $name ==")
      df.show(truncate = false)
    }
    spark.stop()
  }
}
