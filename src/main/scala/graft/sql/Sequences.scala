package graft.sql

/** Session-scoped sequences — DuckDB's `CREATE SEQUENCE` / `nextval` /
  * `currval` surface (reference host engine; semantics pinned on 1.0:
  * START/INCREMENT options, MINVALUE/MAXVALUE bounds with [NO] CYCLE
  * wraparound, duplicate-create and missing-sequence Catalog Errors,
  * currval-before-nextval Sequence Error, CREATE OR REPLACE resets
  * state, bound-violating START rejected at creation with DuckDB's
  * Parser Error text).
  *
  * Bounds semantics (all DuckDB-1.0-pinned in SequenceSpec): defaults
  * are MINVALUE 1 / MAXVALUE Long.Max for ascending sequences and
  * MINVALUE Long.Min / MAXVALUE -1 for descending; START defaults to
  * MINVALUE ascending, MAXVALUE descending; stepping past a bound
  * throws `Sequence Error: nextval: reached maximum|minimum value of
  * sequence "name" (bound)` without CYCLE and wraps to the opposite
  * bound with it (ascending wraps to MINVALUE, descending to MAXVALUE
  * — START is NOT the wrap target).
  *
  * Scale contract, stated not hidden: a sequence is a single atomic
  * counter — inherently serialized state, exactly as single-node DuckDB
  * runs it. Counters live in the driver JVM, in the holder of the
  * session that created them ([[GraftSessionState.sequences]]), and die
  * with that session. `nextval`/`currval` carry the analyzing session's
  * holder id into the task, so evaluation on an executor thread of the
  * same JVM (local mode, driver-side relations — the shapes scripts use
  * sequences for) advances exactly that session's counter, whichever
  * session last ran on the thread. A `nextval` inside a distributed
  * scan serializes every row through one counter — DuckDB pays the same
  * cost on its single node, but at cluster scale the right tool is
  * `monotonically_increasing_id()`/`uuid()`, which the missing-sequence
  * error text points at; a remote executor has no holder and fails with
  * a named error. Values are unique and strictly advancing, never
  * gap-free under retries (same as any sequence under task retry).
  */
object Sequences {

  private[sql] final class Sequence(val increment: Long, start: Long,
      minV: Long, maxV: Long, cycle: Boolean) {
    private var nextV: Long = start
    private var pastBound = false // advance overflowed Long
    @volatile var defined = false
    @volatile var current: Long = start
    def nextval(name: String): Long = this.synchronized {
      if (pastBound || (increment > 0 && nextV > maxV) ||
          (increment < 0 && nextV < minV)) {
        if (!cycle) {
          if (increment > 0) throw new IllegalStateException(
            s"""Sequence Error: nextval: reached maximum value of sequence "$name" ($maxV)""")
          else throw new IllegalStateException(
            s"""Sequence Error: nextval: reached minimum value of sequence "$name" ($minV)""")
        }
        nextV = if (increment > 0) minV else maxV
        pastBound = false
      }
      val v = nextV
      try nextV = math.addExact(v, increment)
      catch { case _: ArithmeticException => pastBound = true }
      current = v
      defined = true
      v
    }
  }

  def create(st: GraftSessionState, name: String,
      start: Option[Long] = None, increment: Long = 1L,
      minValue: Option[Long] = None, maxValue: Option[Long] = None,
      cycle: Boolean = false, orReplace: Boolean = false,
      ifNotExists: Boolean = false): Unit = {
    val asc = increment >= 0
    val minV = minValue.getOrElse(if (asc) 1L else Long.MinValue)
    val maxV = maxValue.getOrElse(if (asc) Long.MaxValue else -1L)
    val first = start.getOrElse(if (asc) minV else maxV)
    // DuckDB validates START against the bounds at CREATION (Parser
    // Error), not lazily at first nextval.
    if (first > maxV) throw new IllegalStateException(
      s"Parser Error: START value ($first) cannot be greater than MAXVALUE ($maxV)")
    if (first < minV) throw new IllegalStateException(
      s"Parser Error: START value ($first) cannot be less than MINVALUE ($minV)")
    val k = name.toLowerCase
    if (st.sequences.containsKey(k) && !orReplace) {
      if (ifNotExists) return
      throw new IllegalStateException(
        s"""Catalog Error: Sequence with name "$name" already exists!""")
    }
    st.sequences.put(k, new Sequence(increment, first, minV, maxV, cycle))
    ()
  }

  def drop(st: GraftSessionState, name: String, ifExists: Boolean = false): Unit = {
    if (st.sequences.remove(name.toLowerCase) == null && !ifExists)
      throw new IllegalStateException(
        s"Catalog Error: Sequence with name $name does not exist!")
  }

  private def lookup(st: GraftSessionState, name: String): Sequence = {
    val s = st.sequences.get(name.toLowerCase)
    if (s == null)
      throw new IllegalStateException(
        s"Catalog Error: Sequence with name $name does not exist! " +
          "(for distributed unique ids use monotonically_increasing_id() " +
          "or uuid() instead of a serialized sequence)")
    s
  }

  def nextval(st: GraftSessionState, name: String): Long =
    lookup(st, name).nextval(name)

  def currval(st: GraftSessionState, name: String): Long = {
    val s = lookup(st, name)
    if (!s.defined)
      throw new IllegalStateException(
        "Sequence Error: currval: sequence is not yet defined in this session")
    s.current
  }
}
