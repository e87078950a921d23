package perfbench

/** `meter_batch_stream`: the reference's product end to end, both ways it
  * refreshes the marts, in one JVM. Each step is one round: two
  * `meter_stream` ops (an in-order batch, then a re-delivery), then one
  * `meter_batch` full refresh, so every run samples all three. Sharing the
  * JVM shares its start-up and Spark SQL initialisation, which is what lets
  * the benchmark's full check fit its time budget on a 4-core host. */
final class MeterBatchStream(batch: MeterBatch, stream: MeterStream) extends Workload {
  /** The two set-ups write disjoint stores; they run side by side. */
  def setup(): Unit = {
    val warm = scala.concurrent.Future(batch.setup())(scala.concurrent.ExecutionContext.global)
    try stream.setup()
    finally scala.concurrent.Await.ready(warm, scala.concurrent.duration.Duration.Inf)
    warm.value.get.get
  }

  def step(): Boolean = stream.step() && stream.step() && batch.step()

  def verify(): Unit = { batch.verify(); stream.verify() }

  def close(): Unit = { batch.close(); stream.close() }

  /** Throughput of the batch refresh; commit and replay latency of the stream. */
  def endToEnd: Seq[Figure] = {
    val Seq(rows, _, _) = batch.endToEnd
    val Seq(_, commit, replay) = stream.endToEnd
    Seq(rows, commit, replay)
  }

  def report: Seq[Figure] = batch.report ++ stream.report

  def spans: Seq[String] = batch.spans ++ stream.spans
}
