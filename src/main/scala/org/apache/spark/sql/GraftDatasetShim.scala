package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the package-private `Dataset.ofRows`, the one Spark API that
  * builds a DataFrame directly over a LogicalPlan. The engine's prepared-plan
  * cache uses it to hand back a dataset rooted at the OPTIMIZED plan of a
  * prepared statement, so re-executions (and actions like `count()` that wrap
  * the plan in a fresh aggregate) re-run Catalyst over an already-converged
  * tree instead of re-paying full optimization per call. Standard community
  * shim pattern for Spark libraries (same approach as e.g. Qbeast's
  * DatasetFactory); nothing here depends on Spark internals beyond the one
  * factory call.
  */
object GraftDatasetShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** As [[ofRows]], but for a plan that IS already the optimizer's output:
    * the QueryExecution pins every logical phase to the given tree, so each
    * re-execution pays only physical planning + execution instead of
    * re-walking the full analyzer/optimizer rule batches over an
    * already-converged tree (measured 5-20 ms/call on the TPC-H shapes —
    * pure fixed cost on the repeated-statement path, where the same
    * optimized plan executes thousands of times on a server). Safe exactly
    * because the prepared-plan cache only ever stores PURE queries: no
    * commands to eagerly execute, no `Dataset.cache()` substitution to
    * re-resolve (both phases are no-ops for these trees by construction).
    */
  def ofRowsPreOptimized(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val qe = new execution.QueryExecution(cs, plan) {
      override def analyzed: LogicalPlan = plan
      override def commandExecuted: LogicalPlan = plan
      override def normalized: LogicalPlan = plan
      override def withCachedData: LogicalPlan = plan
      override def optimizedPlan: LogicalPlan = plan
    }
    new classic.Dataset[Row](qe,
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(plan.schema))
  }

  /** Fork an isolated session over the same SparkContext: copied conf +
    * session state, shared executors/caches. The prepared-plan cache probes
    * plan shapes under a clone with adaptive off, so the probe can never be
    * observed by statements planned concurrently in the live session.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Wrap an already-parsed catalyst Expression as a Column. Row-level DML
    * carries the parser's expressions (assignment values, conditions) into
    * DataFrame transformations with this, instead of round-tripping through
    * `e.sql` text — whose rendering is not guaranteed re-parseable (quoted
    * identifiers, string literals containing quotes).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Hand `f` the rows of `df` in partition order, fetched from the
    * dataset's EXISTING executed plan (a cached statement keeps its finished
    * stages) by one Spark job per window of result partitions.
    * `toLocalIterator` runs one job per partition, in sequence; `collect` one
    * job for all of them, resident at once. Here a window holds at most
    * `defaultParallelism` partitions and at most [[resultBudget]] bytes, so
    * the driver holds one window's rows, each as its UnsafeRow bytes.
    *
    * Windows are sized by bytes as the fetch goes: each is as wide as the
    * budget allows at the largest partition seen so far, and each partition
    * of a window may ship at most its share of the budget. A partition that
    * outgrows its share is dropped from that job and fetched again alone, as
    * `toLocalIterator` would have fetched it. A small result therefore takes
    * one job, and a large one never ships more than the budget in one job
    * (`spark.driver.maxResultSize` applies per job).
    *
    * The fetch is one SQL execution (listeners and the UI see it like a
    * `collect`) and its jobs carry the calling thread's job group, so
    * cancelling the group stops it. A command's result, already on the
    * driver, takes no job.
    */
  def withResultRows[A](df: DataFrame)(f: Iterator[Row] => A): A = {
    import catalyst.expressions.{UnsafeProjection, UnsafeRow}
    val fromRow = df.asInstanceOf[classic.Dataset[Row]].exprEnc.resolveAndBind().createDeserializer()
    val schema = df.schema
    val writeRow = () => {
      lazy val toUnsafe = UnsafeProjection.create(schema)
      val buffer = new Array[Byte](4096)
      (r: catalyst.InternalRow, out: java.io.DataOutputStream) => {
        val u = r match { case u: UnsafeRow => u; case o => toUnsafe(o) }
        out.writeInt(u.getSizeInBytes)
        u.writeToStream(out, buffer)
      }
    }
    withResultRecords(df)(writeRow)(records => f(records.map { b =>
      val row = new UnsafeRow(schema.length)
      row.pointTo(b, b.length)
      fromRow(row)
    }))
  }

  /** [[withResultRows]] with each row as the JSON object `Dataset.toJSON`
    * writes, encoded on the executors.
    */
  def withResultJson[A](df: DataFrame)(f: Iterator[String] => A): A = {
    import java.nio.charset.StandardCharsets.UTF_8
    val schema = df.schema
    val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    val writeJson = () => {
      val writer = new java.io.CharArrayWriter()
      val gen = new catalyst.json.JacksonGenerator(schema, writer,
        new catalyst.json.JSONOptions(Map.empty[String, String], tz))
      (r: catalyst.InternalRow, out: java.io.DataOutputStream) => {
        gen.write(r)
        gen.flush()
        val b = writer.toString.getBytes(UTF_8)
        writer.reset()
        out.writeInt(b.length)
        out.write(b)
      }
    }
    withResultRecords(df)(writeJson)(records => f(records.map(new String(_, UTF_8))))
  }

  // Writes one row as a length-framed record. Made per task, on the executor.
  private type RecordWriter = (catalyst.InternalRow, java.io.DataOutputStream) => Unit

  /** Bytes one fetch job may bring to the driver: half of
    * `spark.driver.maxResultSize` (the rest covers each task's metrics), and
    * never more than an eighth of the driver heap.
    */
  private def resultBudget(sc: org.apache.spark.SparkContext): Long = {
    val maxResult = sc.conf.get(org.apache.spark.internal.config.MAX_RESULT_SIZE)
    val heap = Runtime.getRuntime.maxMemory / 8
    if (maxResult > 0) math.min(maxResult / 2, heap) else heap
  }

  /** One partition's rows as length-framed records, or null once they pass
    * `cap` bytes.
    */
  private def frame(rows: Iterator[catalyst.InternalRow], write: RecordWriter, cap: Long): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    while (rows.hasNext) {
      write(rows.next(), out)
      if (out.size > cap) return null
    }
    out.flush()
    bytes.toByteArray
  }

  private def unframe(bytes: Array[Byte]): Iterator[Array[Byte]] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    Iterator.continually(in.available()).takeWhile(_ > 0).map { _ =>
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      b
    }
  }

  private def withResultRecords[A](df: DataFrame)(writer: () => RecordWriter)(
      f: Iterator[Array[Byte]] => A): A = {
    val qe = df.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val plan = qe.executedPlan
      plan.resetMetrics()
      plan match {
        case c: execution.CommandResultExec =>
          f(unframe(frame(c.executeCollect().iterator, writer(), Long.MaxValue)))
        case _ =>
          val rdd = plan.execute()
          val sc = rdd.sparkContext
          val n = rdd.getNumPartitions
          val maxWidth = math.max(1, sc.defaultParallelism)
          val budget = resultBudget(sc)
          def fetch(ps: Seq[Int], cap: Long): Array[Array[Byte]] =
            sc.runJob(rdd, (rows: Iterator[catalyst.InternalRow]) => frame(rows, writer(), cap), ps)
          var largest = 0L // bytes of the largest partition fetched so far
          val partitions = new Iterator[Iterator[Array[Byte]]] {
            private var start = 0
            def hasNext: Boolean = start < n
            // lazy: window k+1 runs when the caller has consumed window k
            def next(): Iterator[Array[Byte]] = {
              val width =
                if (largest == 0) maxWidth else math.min(maxWidth.toLong, math.max(1L, budget / largest)).toInt
              val ps = start until math.min(n, start + width)
              start = ps.end
              // a lone partition ships whole: maxResultSize is its only limit
              val got = fetch(ps, if (ps.size == 1) Long.MaxValue else budget / ps.size)
              got.indices.iterator.map { i =>
                val bytes = if (got(i) != null) got(i) else fetch(Seq(ps(i)), Long.MaxValue)(0)
                got(i) = null
                largest = math.max(largest, bytes.length.toLong)
                bytes
              }
            }
          }
          f(partitions.flatten.flatMap(unframe))
      }
    }
  }
}
