package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass visit-summary decode over flat_obs's encoded obs string —
  * the custom `Expression` for the engine's single hottest projection.
  * Parses the string's entries ONCE (boundary split + prefix strip,
  * exactly the entry grammar the reference's regexp extraction encodes)
  * into concept slots (a direct int-indexed table, no hashing), then
  * evaluates every decode table, test membership and extraction as tight
  * JVM loops over UTF8String references — zero regex, one parse per row
  * instead of the ~180 `contains`/regexp scans of the reference-shaped
  * projection. Date fields are emitted as the raw joined strings; the
  * caller applies `try_to_timestamp`, keeping timestamp semantics in
  * stock Spark.
  *
  * Output-equivalence is gated twice: q56 runs it under the DuckDB
  * oracle, and DecodePathEquivalenceSpec diffs it row for row against
  * the reference-shaped contains chain (kept in the test sources) on
  * fuzzed obs strings. Malformed tokens are skipped — they can never
  * match a contains arm either.
  */
case class ObsStringDecodeAll(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ObsDecode.schema
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"obs_string_decode_all requires string, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    ObsDecode.decodeFromString(if (v == null) null else v.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): ObsStringDecodeAll =
    copy(child = newChild)
  override def prettyName: String = "obs_string_decode_all"
}

object ObsDecode {
  import graft.etl.FlatVisitSummary._

  /** The 24 searched-CASE decode tables in output-column order. */
  private val tables: Seq[(String, Seq[(String, String)])] = Seq(
    "patient_source" -> patientSource,
    "cur_arv_adherence" -> curArvAdherence,
    "pregnant" -> pregnant,
    "fp_status" -> fpStatus,
    "fp_method" -> fpMethod,
    "why_not_on_fp" -> whyNotOnFp,
    "tb_status" -> tbStatus,
    "side_effects" -> sideEffects,
    "who_stage" -> whoStage,
    "ctx_adherence" -> ctxAdherence,
    "ctx_dispensed" -> ctxDispensed,
    "inh_dispensed" -> inhDispensed,
    "other_medications_dispensed" -> otherMedsDispensed,
    "arvs_adherence" -> arvsAdherence,
    "why_arvs_adherence_poor" -> whyArvsAdherencePoor,
    "pmtct_ppct" -> pmtctPpct,
    "currentregmen" -> currentRegimen,
    "refferal_hospitalized" -> refferalHospitalized,
    "breastfing_mode" -> breastfingMode,
    "at_risk_population" -> atRiskPopulation,
    "pwp_disclosure" -> pwpDisclosure,
    "pwp_partner_tested" -> pwpPartnerTested,
    "condoms_dispensed" -> condomsDispensed,
    "sti_screened" -> stiScreened)

  private val testCodes = Seq(5497, 21, 1569, 1883, 5622)
  private val testFields = Seq("cd4_cd4percentage_done", "hgb_done",
    "rpr_done", "tb_sputum_done", "other_test_done")

  /** Distinct concepts read, each assigned a slot. */
  private val concepts: Array[Int] =
    (tables.flatMap(_._2.map(_._1.split("=", 2)(0).toInt)) ++
      Seq(6746, 1353, 6743, 6744, 5096, 1271, 1534)).distinct.sorted.toArray
  private val nSlots = concepts.length
  /** Direct-index concept → slot (concept ids are small ints). */
  private val slotOf: Array[Int] = {
    val a = Array.fill(concepts.max + 1)(-1)
    concepts.zipWithIndex.foreach { case (c, i) => a(c) = i }
    a
  }
  private def slot(c: Int): Int = slotOf(c)

  private case class Arm(slot: Int, code: UTF8String, label: UTF8String)
  private val compiled: Array[Array[Arm]] = tables.map { case (_, t) =>
    t.map { case (kv, label) =>
      val Array(c, code) = kv.split("=", 2)
      Arm(slot(c.toInt), UTF8String.fromString(code), UTF8String.fromString(label))
    }.toArray
  }.toArray

  private val testCodeU = testCodes.map(c => UTF8String.fromString(c.toString)).toArray
  private val SEP = UTF8String.fromString(graft.functions.ObsMap.Sep)
  private val YES = UTF8String.fromString("Yes")
  private val NO = UTF8String.fromString("No")
  private val EMPTY = UTF8String.fromString("")

  /** Field order: 4 raw extracts interleaved at their output positions,
    * 24 decodes, 5 test memberships, the §7.4.5 quirk. The caller
    * ([[graft.etl.FlatVisitSummary.decodeColumnsFromStruct]]) re-expands
    * to the 35 output columns (e6746 feeds two dates). */
  val schema: StructType = StructType(
    (Seq("e6746", "patient_source", "weight", "height") ++
      tables.map(_._1).filterNot(_ == "patient_source") ++
      testFields ++ Seq("no_of_day_hospitalized", "e5096"))
      .map(StructField(_, StringType, nullable = true)))

  private val sEnroll = slot(6746)
  private val sPatientDefault = slot(1353)
  private val sWeight = slot(6743)
  private val sHeight = slot(6744)
  private val sTca = slot(5096)
  private val sTests = slot(1271)
  private val sNoDay = slot(1534)

  private def contains(arr: ArrayData, code: UTF8String): Boolean = {
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i) && arr.getUTF8String(i).equals(code)) return true
      i += 1
    }
    false
  }

  /** `array_join(arr, " ## ")` — nulls skipped, null when arr null. */
  private def join(arr: ArrayData): UTF8String = {
    if (arr == null) return null
    val n = arr.numElements()
    if (n == 1) return if (arr.isNullAt(0)) EMPTY else arr.getUTF8String(0)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      parts(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    UTF8String.concatWs(SEP, parts: _*)
  }

  private def decode(t: Array[Arm], slots: Array[ArrayData], default: UTF8String)
      : UTF8String = {
    var i = 0
    while (i < t.length) {
      val arm = t(i)
      val arr = slots(arm.slot)
      if (arr != null && contains(arr, arm.code)) return arm.label
      i += 1
    }
    default
  }

  /** One-pass entry parse of the encoded obs string ("!!c=v!! ## …") into
    * concept slots; malformed tokens are skipped (they can never match a
    * contains arm either). Entry order is preserved per concept. */
  private[functions] def decodeFromString(obs: String): InternalRow = {
    val slots = new Array[ArrayData](nSlots)
    if (obs != null && obs.nonEmpty) {
      val bufs = new Array[scala.collection.mutable.ArrayBuffer[UTF8String]](nSlots)
      val n = obs.length
      var i = 0
      while (i < n) {
        var j = obs.indexOf(" ## ", i)
        if (j < 0) j = n
        // token = obs[i, j): must look like !!<digits>=<value>!!
        if (j - i >= 6 && obs.startsWith("!!", i) && obs.startsWith("!!", j - 2)) {
          val eq = obs.indexOf('=', i + 2)
          if (eq > i + 2 && eq <= j - 2) {
            var c = 0
            var ok = true
            var k = i + 2
            while (k < eq && ok) {
              val ch = obs.charAt(k)
              if (ch >= '0' && ch <= '9' && c < 1000000) c = c * 10 + (ch - '0')
              else ok = false
              k += 1
            }
            if (ok && c < slotOf.length) {
              val s = slotOf(c)
              if (s >= 0) {
                if (bufs(s) == null)
                  bufs(s) = new scala.collection.mutable.ArrayBuffer[UTF8String](1)
                bufs(s) += UTF8String.fromString(obs.substring(eq + 1, j - 2))
              }
            }
          }
        }
        i = j + 4
      }
      var s = 0
      while (s < nSlots) {
        if (bufs(s) != null)
          slots(s) = new org.apache.spark.sql.catalyst.util.GenericArrayData(
            bufs(s).toArray[Any])
        s += 1
      }
    }
    decodeSlots(slots)
  }

  private def decodeSlots(slots: Array[ArrayData]): InternalRow = {
    val out = new Array[Any](schema.length)
    var f = 0
    out(f) = join(slots(sEnroll)); f += 1
    out(f) = decode(compiled(0), slots, join(slots(sPatientDefault))); f += 1
    out(f) = join(slots(sWeight)); f += 1
    out(f) = join(slots(sHeight)); f += 1
    var t = 1
    while (t < compiled.length) {
      out(f) = decode(compiled(t), slots, null); f += 1; t += 1
    }
    val testsArr = slots(sTests)
    var j = 0
    while (j < testCodeU.length) {
      out(f) = if (testsArr != null && contains(testsArr, testCodeU(j))) YES else NO
      f += 1; j += 1
    }
    out(f) = if (slots(sNoDay) != null) EMPTY else null; f += 1
    out(f) = join(slots(sTca))
    new GenericInternalRow(out)
  }

  /** Column surface. */
  def decodeAllString(obs: Column): Column =
    GraftColumnBridge.column(ObsStringDecodeAll(GraftColumnBridge.expression(obs)))
}
