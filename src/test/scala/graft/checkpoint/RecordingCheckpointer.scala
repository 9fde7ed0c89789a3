package graft.checkpoint

import org.apache.spark.sql.DataFrame

/** [[LocalCheckpointer]] that records every stage name it is handed, in
  * order. */
class RecordingCheckpointer extends Checkpointer {
  val stages = collection.mutable.ArrayBuffer.empty[String]
  def apply(name: String, df: => DataFrame): DataFrame = {
    stages += name
    LocalCheckpointer(name, df)
  }
}
