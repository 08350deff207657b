package steadybench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("documents are the same for a seed and differ across seeds") {
    val a = Gen.documents(1, 500)
    assert(a.toSeq == Gen.documents(1, 500).toSeq)
    assert(a.toSeq != Gen.documents(2, 500).toSeq)
  }

  test("documents have the sf0.1 corpus's copy counts for every seed") {
    Seq(1L, 2L).foreach { seed =>
      val d = Gen.documents(seed, 5000)
      assert(d.count(_.text.endsWith(" dup")) == 250)
      assert(d.length - d.map(_.text).distinct.length == 8)
      assert(d.map(_.text.split(' ').length).forall(n => n >= 10 && n <= 101))
      assert(d.map(_.source).distinct.length == 20)
    }
  }

  test("the detection stream is the same for a seed and differs across seeds") {
    def s(seed: Long) = new DetectionStream(seed, 4, 3, Gen.Start, 2L)
    assert(s(1).batch(2) == s(1).batch(2))
    assert(s(1).batch(2) != s(2).batch(2))
    assert(s(1).batch(2) != s(1).batch(3))
  }

  test("moving boxes never overlap the previous tick, fixed boxes always do") {
    val st = new DetectionStream(5, 6, 4, Gen.Start, 2L)
    val dets = (0 until 3).flatMap(st.batch)
    val byCam = dets.groupBy(_.camera_id)
    byCam.values.foreach { ds =>
      val ticks = ds.groupBy(_.ts.getTime).toSeq.sortBy(_._1).map(_._2)
      ticks.sliding(2).foreach { case Seq(prev, cur) =>
        val nStatic = st.statics(cur.head.camera_id.drop(3).toInt).length
        val boxes = prev.map(d => (d.x1, d.y1, d.x2, d.y2))
        cur.zipWithIndex.foreach { case (d, i) =>
          val best = boxes.map(graft.streaming.Ingest.iou((d.x1, d.y1, d.x2, d.y2), _)).max
          if (i < nStatic) assert(best > 0.5) else assert(best == 0.0)
        }
      }
    }
  }

  test("the op sequence is fixed for a seed") {
    assert((0 until 5).map(BatchLoad.order(7, _)) == (0 until 5).map(BatchLoad.order(7, _)))
    assert((0 until 5).map(BatchLoad.order(7, _)) != (0 until 5).map(BatchLoad.order(8, _)))
    assert(BatchLoad.order(7, 0).sorted == BatchLoad.Queries.map(_._1).sorted)
  }
}
