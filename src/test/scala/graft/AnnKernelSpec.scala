package graft

import graft.ann.{Ann, AnnUdfWitness}
import graft.functions.{IvfAssign, IvfNearestLists, IvfPqAdc, IvfPqEncode, IvfPqLut, IvfPqProbes, KernelPayload, PqAdc, PqEncode, PqLut}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Equality witnesses for the native ANN quantizer kernels
  * (graft.functions.AnnKernels): each codegen'd Expression must match its
  * retired Scala-UDF twin ([[graft.ann.AnnUdfWitness]]) BIT-FOR-BIT
  * (raw IEEE-754 bits, not epsilon) on the real embeddings table with the
  * same frozen model broadcast — the property that keeps the
  * freeze-the-model DuckDB oracles (AnnOracleSql) valid after the r11
  * UDF→kernel port.
  */
class AnnKernelSpec extends GraftTest {

  private lazy val emb = Graft.embeddings(spark, sf)

  private def kcol(build: Expression => Expression, v: Column): Column =
    Ann.kernelCol(build, v)

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def assertBitEqualDoubles(k: Seq[Double], u: Seq[Double], tag: String): Unit = {
    assert(k.length === u.length, tag)
    k.indices.foreach(i => assert(bits(k(i)) === bits(u(i)), s"$tag[$i]: ${k(i)} vs ${u(i)}"))
  }

  test("IvfAssign kernel == UDF witness bit-for-bit (SemDeDup assignment)") {
    val model = Ann.trainIvf(emb, "vec_id", "embedding", nLists = 16)
    val bc = Ann.centroidPayload(spark, model.centroids)
    val rows = emb.select(
      kcol(IvfAssign(_, bc), col("embedding")).as("k"),
      AnnUdfWitness.ivfAssign(bc.bc)(col("embedding").cast("array<double>")).as("u")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getStruct(0); val u = r.getStruct(1)
      assert(k.getInt(0) === u.getInt(0))
      assert(bits(k.getDouble(1)) === bits(u.getDouble(1)),
        s"cdot ${k.getDouble(1)} vs ${u.getDouble(1)}")
    }
  }

  test("IvfNearestLists kernel == UDF witness for n = 1 and n = nProbe") {
    val model = Ann.trainIvf(emb, "vec_id", "embedding", nLists = 16)
    val bc = Ann.centroidPayload(spark, model.centroids)
    Seq(1, 4, 16).foreach { n =>
      val rows = emb.select(
        kcol(IvfNearestLists(_, bc, n), col("embedding")).as("k"),
        AnnUdfWitness.ivfNearestLists(bc.bc, n)(col("embedding").cast("array<double>")).as("u"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[Int](0) === r.getSeq[Int](1), s"n=$n list order diverged")
      }
    }
  }

  test("PqEncode / PqLut kernels == UDF witnesses bit-for-bit") {
    val model = Ann.trainPq(emb, "vec_id", "embedding", m = 8, codebookBits = 6)
    val bc = KernelPayload(spark.sparkContext, (model.books, model.bounds))
    val rows = emb.select(
      kcol(PqEncode(_, bc), col("embedding")).as("ke"),
      AnnUdfWitness.pqEncode(bc.bc)(col("embedding").cast("array<double>")).as("ue"),
      kcol(PqLut(_, bc), col("embedding")).as("kl"),
      AnnUdfWitness.pqLut(bc.bc, model.kCent)(col("embedding").cast("array<double>")).as("ul"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ke = r.getStruct(0); val ue = r.getStruct(1)
      assert(ke.getSeq[Int](0) === ue.getSeq[Int](0), "codes diverged")
      assert(bits(ke.getDouble(1)) === bits(ue.getDouble(1)), "xnorm diverged")
      assertBitEqualDoubles(r.getSeq[Double](2), r.getSeq[Double](3), "lut")
    }
  }

  test("PqAdc kernel == UDF witness bit-for-bit on real candidate pairs") {
    val model = Ann.trainPq(emb, "vec_id", "embedding", m = 8, codebookBits = 6)
    val bc = KernelPayload(spark.sparkContext, (model.books, model.bounds))
    val enc = emb.select(col("vec_id").as("nid"),
        kcol(PqEncode(_, bc), col("embedding")).as("_e"))
      .select(col("nid"), col("_e._1").as("codes"), col("_e._2").as("xnorm"))
    val ql = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), kcol(PqLut(_, bc), col("embedding")).as("lut"))
    val rows = enc.crossJoin(broadcast(ql)).select(
      ColumnBridge.column(PqAdc(
        ColumnBridge.expression(col("codes")),
        ColumnBridge.expression(col("xnorm")),
        ColumnBridge.expression(col("lut")), model.kCent)).as("k"),
      AnnUdfWitness.pqAdc(model.kCent)(col("codes"), col("xnorm"), col("lut")).as("u"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(bits(r.getDouble(0)) === bits(r.getDouble(1))))
  }

  test("IvfPqEncode / IvfPqProbes / IvfPqLut kernels == UDF witnesses bit-for-bit") {
    val model = Ann.trainIvfPq(emb, "vec_id", "embedding",
      nLists = 16, m = 8, codebookBits = 6)
    val bc = KernelPayload(spark.sparkContext, (model.centroids, model.books, model.bounds))
    val rows = emb.select(
      kcol(IvfPqEncode(_, bc), col("embedding")).as("ke"),
      AnnUdfWitness.ivfPqEncode(bc.bc)(col("embedding").cast("array<double>")).as("ue"),
      kcol(IvfPqProbes(_, bc, 6), col("embedding")).as("kp"),
      AnnUdfWitness.ivfPqProbes(bc.bc, 6)(col("embedding").cast("array<double>")).as("up"),
      kcol(IvfPqLut(_, bc), col("embedding")).as("kl"),
      AnnUdfWitness.ivfPqLut(bc.bc, model.kCent)(col("embedding").cast("array<double>")).as("ul"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ke = r.getStruct(0); val ue = r.getStruct(1)
      assert(ke.getInt(0) === ue.getInt(0), "list diverged")
      assert(ke.getSeq[Int](1) === ue.getSeq[Int](1), "codes diverged")
      assert(bits(ke.getDouble(2)) === bits(ue.getDouble(2)), "xnorm diverged")
      val kp = r.getSeq[org.apache.spark.sql.Row](2)
      val up = r.getSeq[org.apache.spark.sql.Row](3)
      assert(kp.length === up.length, "probe count diverged")
      kp.indices.foreach { i =>
        assert(kp(i).getInt(0) === up(i).getInt(0), s"probe[$i] list diverged")
        assert(bits(kp(i).getDouble(1)) === bits(up(i).getDouble(1)), s"probe[$i] qdotc diverged")
      }
      assertBitEqualDoubles(r.getSeq[Double](4), r.getSeq[Double](5), "residual lut")
    }
  }

  test("IvfPqAdc kernel == UDF witness bit-for-bit on real candidate pairs") {
    val model = Ann.trainIvfPq(emb, "vec_id", "embedding",
      nLists = 16, m = 8, codebookBits = 6)
    val bc = KernelPayload(spark.sparkContext, (model.centroids, model.books, model.bounds))
    val enc = emb.select(col("vec_id").as("nid"),
        kcol(IvfPqEncode(_, bc), col("embedding")).as("_e"))
      .select(col("nid"), col("_e._1").as("list"),
        col("_e._2").as("codes"), col("_e._3").as("xnorm"))
    val q = emb.where(col("vec_id") < 5).select(col("vec_id").as("qid"),
        kcol(IvfPqProbes(_, bc, 6), col("embedding")).as("_p"),
        kcol(IvfPqLut(_, bc), col("embedding")).as("lut"))
      .select(col("qid"), explode(col("_p")).as("_pe"), col("lut"))
      .select(col("qid"), col("_pe._1").as("list"), col("_pe._2").as("qdotc"), col("lut"))
    val rows = enc.join(broadcast(q), Seq("list")).select(
      ColumnBridge.column(IvfPqAdc(
        ColumnBridge.expression(col("codes")),
        ColumnBridge.expression(col("xnorm")),
        ColumnBridge.expression(col("qdotc")),
        ColumnBridge.expression(col("lut")), model.kCent)).as("k"),
      AnnUdfWitness.ivfPqAdc(model.kCent)(
        col("codes"), col("xnorm"), col("qdotc"), col("lut")).as("u"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(bits(r.getDouble(0)) === bits(r.getDouble(1))))
  }

  test("kernels null-propagate like the UDFs (null vector in, null out)") {
    import spark.implicits._
    val model = Ann.trainPq(emb, "vec_id", "embedding", m = 4, codebookBits = 4)
    val bc = KernelPayload(spark.sparkContext, (model.books, model.bounds))
    val dim = model.bounds.last // model dimensionality (the embeddings table's)
    val df = Seq((1L, Option(Array.tabulate(dim)(_.toDouble))), (2L, Option.empty[Array[Double]]))
      .toDF("id", "v")
    val out = df.select(col("id"), kcol(PqEncode(_, bc), col("v")).as("e"))
      .orderBy("id").collect()
    assert(out(0).getStruct(1) != null)
    assert(out(1).isNullAt(1), "null vector must encode to null")
  }
}
