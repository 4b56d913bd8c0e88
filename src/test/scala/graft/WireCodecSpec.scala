package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GrpcOtlp, OtlpHttp, OtlpProtobuf}
import graft.sources.ArrowGrpc._

/** The protobuf messages graft's transports hand-roll next to OTLP
  * (otel-arrow BatchArrowRecords/BatchStatus, google.rpc.Status +
  * RetryInfo, Export*PartialSuccess) all go through OtlpProtobuf's one
  * wire codec. The golden bytes pin the encoders byte for byte; the
  * malformed-input cases pin that a hostile peer's bytes fail loudly
  * instead of looping the parser forever. */
class WireCodecSpec extends AnyFunSuite {

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xFF}%02x").mkString

  test("golden wire bytes: arrowpb batch and status, grpc-status-details-bin, partial success") {
    val batch = BatchArrowRecords(300L, Seq(
      ArrowPayload("s1", PayloadType.Logs, Array[Byte](1, 2, 3)),
      ArrowPayload("", PayloadType.Unknown, Array.empty)),
      headers = Array[Byte](0x40, 0x01, 0x61, 0x01, 0x62))
    // the bytes peers already exchange: a codec change must keep them
    assert(hex(encodeBatch(batch)) ==
      "08ac02120b101e0a0273311a0301020312040a001a001a054001610162")
    assert(encodeBatch(BatchArrowRecords(0L, Nil, Array.empty)).isEmpty)
    assert(hex(encodeStatus(BatchStatus(7L, 8, "busy"))) == "080710081a0462757379")
    assert(encodeStatus(BatchStatus(0L, 0, "")).isEmpty)
    assert(hex(encodeStatus(BatchStatus(1L << 35, -1, "é"))) ==
      "0880808080800110ffffffffffffffffff011a02c3a9")
    assert(GrpcOtlp.statusDetailsBin(8, "x", 3500L) ==
      "CAgSAXgaNgoodHlwZS5nb29nbGVhcGlzLmNvbS9nb29nbGUucnBjLlJldHJ5SW5mbxIKCggIAxCAyrXuAQ")
    assert(GrpcOtlp.statusDetailsBin(14, "", 0L) ==
      "CA4SABoyCih0eXBlLmdvb2dsZWFwaXMuY29tL2dvb2dsZS5ycGMuUmV0cnlJbmZvEgYKBAgAEAA")
    assert(hex(OtlpHttp.partialSuccessPb(3L, "three rejected")) ==
      "0a120803120e74687265652072656a6563746564")
    assert(hex(OtlpHttp.partialSuccessPb(1L << 40, "")) == "0a09088080808080201200")
  }

  test("malformed protobuf from a remote server fails loudly, never hangs: partial success and RetryInfo") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // field 2, length-delimited, with a length varint of 2^32 - 6: read
    // as a 32-bit int it is -6, which walks the cursor back to 0
    val bad = Array(0x12, 0xFA, 0xFF, 0xFF, 0xFF, 0x0F).map(_.toByte)
    def within5s[A](f: => A): A = Await.result(Future(f), 5.seconds)
    val e = intercept[IllegalArgumentException] {
      within5s(OtlpHttp.parsePartialSuccess(bad, "application/x-protobuf"))
    }
    assert(e.getMessage.startsWith("malformed protobuf: "), e.getMessage)
    val details = java.util.Base64.getEncoder.withoutPadding.encodeToString(bad)
    assert(within5s(GrpcOtlp.retryDelayMsOf(details)) == 0L)
  }

  test("the shared hex formatter matches per-byte %02x over random bytes, offsets included") {
    val rnd = new scala.util.Random(7)
    (0 until 200).foreach { _ =>
      val b = Array.fill(rnd.nextInt(40))(rnd.nextInt(256).toByte)
      val off = if (b.isEmpty) 0 else rnd.nextInt(b.length)
      val len = rnd.nextInt(b.length - off + 1)
      assert(OtlpProtobuf.hex(b, 0, b.length) == b.map("%02x".format(_)).mkString)
      assert(OtlpProtobuf.hex(b, off, len) == b.slice(off, off + len).map(x => f"$x%02x").mkString)
    }
  }
}
