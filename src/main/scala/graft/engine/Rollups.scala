package graft.engine

/** The rollup-measurement contract shared by the batch (`Tsdb.downsample`)
  * and streaming (`graft.streaming.StreamingRollup`) producers — ONE
  * definition of the schema and the naming rule, so the two paths can feed
  * the same measurement interchangeably (createMeasurement is idempotent
  * iff the schema is bitwise identical; a drifted copy would either reject
  * or silently write a sibling measurement). */
object Rollups {

  /** sum/min/max/count per window — the reference clients' zoom-table shape
    * (sum_op outputs, main.cc:203-238). */
  val Schema: MeasurementSchema = MeasurementSchema(Seq(
    Field("sum_value", FieldType.F64), Field("min_value", FieldType.F64),
    Field("max_value", FieldType.F64), Field("n", FieldType.I64)))

  /** The FIELD is part of the rollup identity: downsampling a second field
    * with the same window must not resolve to the first field's rollup
    * measurement (same schema => createMeasurement would accept it and the
    * writes would collide on identical timestamps). */
  def name(m: String, field: String, windowWidth: Long): String =
    s"${m}__rollup_${field}_$windowWidth"
}
