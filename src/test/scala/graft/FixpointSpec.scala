package graft

import graft.operators.GraphOps.Fixpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** `GraphOps.Fixpoint`, the loop behind GraphOps' iterations, on a tiny
  * synthetic state: three rows of one counter column `v`.
  */
class FixpointSpec extends GraftSuite {

  private def state(v: Long): DataFrame = spark.range(3).select(lit(v).as("v"))
  private def value(df: DataFrame): Long = df.head().getLong(0)
  private def isCkpt(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LogicalRDD]
  private val inc = (st: DataFrame, _: Int) => st.select((col("v") + 1).as("v"))
  private val sumMetric = (df: DataFrame) =>
    Seq(df.agg(sum("v").cast("decimal(38,0)")).head().getDecimal(0))

  test("without done, step runs exactly bound times and ckptAt picks the checkpoints") {
    val seen = ArrayBuffer.empty[(Int, Boolean)]
    val (out, rounds) = Fixpoint.run(state(0), 5, _ % 2 == 0) { (st, r) =>
      seen += r -> isCkpt(st)
      inc(st, r)
    }()
    assert(rounds === 5)
    assert(value(out) === 5L)
    assert(seen.map(_._1) === (1 to 5))
    // round r reads round r-1's state: only rounds 2 and 4 were checkpointed
    assert(seen.map(_._2) === Seq(false, false, true, false, true))
    assert(!isCkpt(out))
    val (all, _) = Fixpoint.run(state(0), 2)(inc)()
    assert(isCkpt(all), "ckptAt defaults to every round")
    val (same, none) = Fixpoint.run(state(7), 0)(inc)()
    assert(none === 0 && value(same) === 7L)
  }

  test("done is evaluated after every round below the bound, never at it") {
    val probed = ArrayBuffer.empty[Long]
    val (out, rounds) = Fixpoint.run(state(0), 3)(inc) { st =>
      probed += value(st); false
    }
    assert(rounds === 3 && value(out) === 3L)
    assert(probed === Seq(1L, 2L))
    val (early, r) = Fixpoint.run(state(0), 3)(inc)(st => value(st) == 1L)
    assert(r === 1 && value(early) === 1L)
  }

  test("monotone stops on an unchanged metric and never after a decrease") {
    val grow = Fixpoint.monotone(state(0))(sumMetric)
    assert(!grow(state(1)), "0 → 3 grew")
    assert(!grow(state(2)), "3 → 6 grew")
    assert(grow(state(2)), "6 → 6 is a fixed point")
    val dec = Fixpoint.monotone(state(2))(sumMetric)
    assert(!dec(state(1)), "a decrease never stops the loop")
    assert(!dec(state(1)), "unchanged after a decrease: early exit stays off")
    assert(!dec(state(4)) && !dec(state(4)))
    // through `run`: a counter capped at 3 stops one round after it
    // stops changing, well below the bound
    val (out, rounds) = Fixpoint.run(state(0), 10) { (st, _) =>
      st.select(least(col("v") + 1, lit(3L)).as("v"))
    }(Fixpoint.monotone(state(0))(sumMetric))
    assert(rounds === 4 && value(out) === 3L)
  }
}
