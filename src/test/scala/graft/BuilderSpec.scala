package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.{EdgeBuilder, Transcripts, VertexDict}

/** EdgeBuilder on the hand-written transcripts3 fixture + the
 * per-turn text-equality invariant + dictionary determinism. */
class BuilderSpec extends SparkSpec {

  def ts(s: Long) = new Timestamp(1704067200000L + s * 1000)

  /** 3 conversations; a and b share tool_x (FIXTURES.md transcripts3). */
  lazy val transcripts3 = {
    import spark.implicits._
    Seq(
      ("a", 0, "user", "hi", None, ts(0)),
      ("a", 1, "assistant", "hello", Some("tool_x"), ts(1)),
      ("a", 2, "user", "bye", None, ts(2)),
      ("b", 0, "user", "q", Some("tool_x"), ts(3)),
      ("b", 1, "assistant", "a", None, ts(4)),
      ("c", 0, "user", "solo", Some("tool_y"), ts(5)),
      ("c", 1, "tool", "result", Some("tool_y"), ts(6))
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  test("transcripts3 exact expected edge set") {
    val got = EdgeBuilder.keyEdges(transcripts3)
      .select("src_key", "dst_key", "kind")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val expected = Set(
      ("a#0", "a#1", "adj"), ("a#1", "a#2", "adj"),
      ("b#0", "b#1", "adj"), ("c#0", "c#1", "adj"),
      ("a#1", "T#tool_x", "tool"), ("b#0", "T#tool_x", "tool"),
      ("c#0", "T#tool_y", "tool"), ("c#1", "T#tool_y", "tool"))
    assert(got == expected)
  }

  test("per-turn text equality invariant under stable (conv_id, turn_idx) ordering") {
    // input_hint invariant: the derived pipeline preserves text per turn.
    val sfDir = "/root/testdata/sf0.001"
    val t = Transcripts.fromEvents(spark, sfDir)
    // stable ordering: (conv_id, turn_idx) is a unique key
    assert(t.groupBy("conv_id", "turn_idx").count().where(col("count") > 1).count() == 0)
    // round-trip through the keyed builder preserves text exactly
    val keyed = EdgeBuilder.turnKey(t)
    val back = keyed.select(col("conv_id"), col("turn_idx"), col("text").as("t2"))
    val joined = t.join(back, Seq("conv_id", "turn_idx"))
    assert(joined.where(col("text") =!= col("t2")).count() == 0)
    assert(joined.count() == t.count())
  }

  test("vertex dictionary: dense, deterministic across parallelism") {
    val keyEdges = EdgeBuilder.keyEdges(transcripts3)
    val d1 = VertexDict.build(keyEdges, 3).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val d2 = VertexDict.build(keyEdges.repartition(7), 3).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(d1 == d2)
    val ids = d1.map(_._1)
    assert(ids == (0L until ids.size).toSet, "ids are dense 0..|V|-1")
  }

  test("fromKeyEdges: VertexDict.build's ids, |V| = vertex count, degree schema") {
    import spark.implicits._
    val keyEdges = EdgeBuilder.keyEdges(transcripts3)
    val g = LinkGraph.fromKeyEdges(keyEdges, symmetric = false, numPartitions)
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows(g.vertices) == rows(VertexDict.build(keyEdges, numPartitions)))
    assert(g.numVertices == g.vertices.count())
    val degreeSchema = StructType(Seq("id", "out_degree", "in_degree")
      .map(StructField(_, LongType, nullable = false)))
    // nullable id columns in the input do not reach the degree table
    val idEdges = Seq[(java.lang.Long, java.lang.Long)]((0L, 1L), (1L, 2L)).toDF("src", "dst")
    for (d <- Seq(g, g.symmetrize, LinkGraph.fromIdEdges(idEdges, 3, symmetric = false, numPartitions)))
      assert(d.degrees.schema == degreeSchema)
  }

  test("unpersisting a symmetrized graph leaves its source graph usable") {
    val g = graphOf(Seq((0, 1), (1, 2), (2, 0)), symmetric = false)
    g.symmetrize.unpersist()
    assert(g.vertices.count() == 3 && g.degrees.count() == 3 && g.edgesByDst.count() == 3)
  }

  test("synthetic transcripts are deterministic and well-formed") {
    val t1 = Transcripts.synthetic(spark, 10, 8, 5).collect()
    val t2 = Transcripts.synthetic(spark, 10, 8, 5).collect()
    assert(t1.map(_.toString).sorted.toSeq == t2.map(_.toString).sorted.toSeq)
    assert(t1.length == 80)
  }

  test("symmetrize: undirected graph has both directions, no self-loops, dedup") {
    val g = graphOf(Seq((0, 1), (1, 0), (1, 2), (2, 2)), symmetric = true)
    val edges = g.edgesBySrc.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.size == 4) // (0,1),(1,0),(1,2),(2,1)
    assert(edges.forall { case (a, b) => a != b })
    assert(edges.forall { case (a, b) => edges.contains((b, a)) })
  }

  test("LinkGraph.symmetrize of the directed graph == symmetric from-scratch build") {
    val pairs = Seq((0, 1), (1, 2), (2, 0), (3, 1), (2, 2), (1, 0))
    val w = pairs.map { case (a, b) => (a, b) -> (1.0 + (a * 3 + b) % 4) }.toMap
    val direct = graphOf(pairs, symmetric = true, weights = w)
    val shared = graphOf(pairs, symmetric = false, weights = w).symmetrize
    def edgeSet(g: LinkGraph) =
      g.edgesBySrc.join(g.vertices.withColumnRenamed("id", "src"), "src")
        .withColumnRenamed("key", "sk")
        .join(g.vertices.withColumnRenamed("id", "dst"), "dst")
        .select(col("sk"), col("key"), col("weight")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(edgeSet(direct) == edgeSet(shared))
    assert(direct.numEdges == shared.numEdges && direct.numVertices == shared.numVertices)
    def degSet(g: LinkGraph) =
      g.degrees.join(g.vertices, "id")
        .select(col("key"), col("out_degree"), col("in_degree")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(degSet(direct) == degSet(shared))
  }

  test("Gemini binary edge list: LE uint32 decode, weighted records, full load") {
    import graft.sources.GeminiEdgeList
    def writeRecords(recs: Seq[Array[Byte]]): String = {
      val f = java.nio.file.Files.createTempFile("graft-gemini", ".bin")
      java.nio.file.Files.write(f, recs.flatten.toArray)
      f.toString
    }
    def un(src: Long, dst: Long): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(src.toInt).putInt(dst.toInt).array()
    }
    def wt(src: Long, dst: Long, w: Float): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(src.toInt).putInt(dst.toInt).putFloat(w).array()
    }

    // unsigned decode: ids beyond Int.MaxValue survive the round trip
    val uPath = writeRecords(Seq(un(0, 1), un(1, 2), un(4294967295L, 7)))
    val got = GeminiEdgeList.read(spark, uPath).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((0L, 1L, 1.0), (1L, 2L, 1.0), (4294967295L, 7L, 1.0)))

    // weighted records carry the float payload (sssp.cpp:22 layout)
    val wPath = writeRecords(Seq(wt(0, 1, 0.5f), wt(1, 2, 2.25f)))
    val gw = GeminiEdgeList.read(spark, wPath, weighted = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gw == Set((0L, 1L, 0.5), (1L, 2L, 2.25)))

    // end-to-end load: CLI-style |V| (isolated vertex 3 included),
    // symmetrized build, degrees
    val g = GeminiEdgeList.load(spark, writeRecords(Seq(un(0, 1), un(1, 2), un(2, 0))),
      numVertices = 4, symmetric = true, numPartitions = 2)
    assert(g.numVertices == 4 && g.numEdges == 6 && g.symmetric)
    val degs = g.degrees.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(degs == Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 0L))
    // the dictionary-free path still feeds the algos: triangle = 1
    assert(algos.TriangleCount.count(g) == 1L)
  }
}
