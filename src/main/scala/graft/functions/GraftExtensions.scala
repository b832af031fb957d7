package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions injection point for the engine's native
  * expressions and planner strategy — the only registration path.
  * [[graft.Sessions]] sets
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`,
  * so the functions are first-class in SQL text in every graft session
  * and its `newSession()`s:
  * `SELECT graft_cosine(a.embedding, b.embedding) ...`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cosineDescriptor)
    ext.injectFunction(GraftExtensions.winnowDescriptor)
    ext.injectFunction(GraftExtensions.nfcDescriptor)
    ext.injectFunction(GraftExtensions.deflateDescriptor)
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategies)
  }
}

object GraftExtensions {
  private[functions] val cosineDescriptor = (
    new FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 2, "graft_cosine expects exactly 2 arguments")
      CosineSimilarity(children.head, children(1))
    })

  private[functions] val winnowDescriptor = (
    new FunctionIdentifier("graft_winnow"),
    new ExpressionInfo(classOf[Winnow].getName, "graft_winnow"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 3, "graft_winnow expects (text, k, w)")
      def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
        require(e.foldable, "graft_winnow k/w must be literals")
        e.eval().toString.toInt
      }
      Winnow(children.head, intLit(children(1)), intLit(children(2)))
    })

  private[functions] val nfcDescriptor = (
    new FunctionIdentifier("graft_nfc"),
    new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 1, "graft_nfc expects exactly 1 argument")
      NfcNormalize(children.head)
    })

  private[functions] val deflateDescriptor = (
    new FunctionIdentifier("graft_deflate_len"),
    new ExpressionInfo(classOf[DeflateLength].getName, "graft_deflate_len"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 1, "graft_deflate_len expects exactly 1 argument")
      DeflateLength(children.head)
    })
}
