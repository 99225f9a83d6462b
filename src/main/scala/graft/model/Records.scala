package graft.model

/** Typed record schema of the reference's orders wire format (SURVEY.md
  * §1.3; reference: Aggregations.java:36-47). The case class gives a
  * Dataset[T] encoder at the API edge; internal logic stays in untyped
  * Column ops so Catalyst codegen applies throughout.
  */
final case class OrderData(
    orderTimeMs: Long,
    orderId: Int,
    itemName: String,
    orderValue: Double)
