package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  test("dot_product is callable from SQL when extensions are injected") {
    val base = TestSpark.spark // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val v = s.sql(
        "SELECT dot_product(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d")
        .collect()(0).getDouble(0)
      assert(v == 11.0)
      // and it participates in a real query plan over a table
      val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      emb.createOrReplaceTempView("emb_ext")
      val n = s.sql(
        """SELECT count(*) FROM emb_ext
          |WHERE dot_product(embedding, embedding) > 0""".stripMargin)
        .collect()(0).getLong(0)
      assert(n > 0)
      // the text-scan expressions register too
      val r = s.sql(
        "SELECT punct_count('a-b c!'), subword_count('a-b c!')")
        .collect()(0)
      assert(r.getLong(0) == 2L) // '-' and '!'
      assert(r.getLong(1) == 5L) // a, -, b, c, !
      // fused tokenize+hash registers and matches the composed chain
      val th = s.sql(
        """SELECT token_hashes('Hello World') = array(
          |  CAST(conv(substring(md5('hello'), 1, 8), 16, 10) AS BIGINT),
          |  CAST(conv(substring(md5('world'), 1, 8), 16, 10) AS BIGINT)),
          |  size(token_hashes_wide('a b c'))""".stripMargin)
        .collect()(0)
      assert(th.getBoolean(0))
      assert(th.getInt(1) == 3)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("the WindowExec log filter drops only the No Partition Defined warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.impl.Log4jLogEvent
    import org.apache.logging.log4j.message.SimpleMessage
    TestSpark.spark // the session's extensions install the filter
    GraftExtensions.quietBoundedWindowWarning()
    val name = GraftExtensions.WindowExecLogger
    val cfg = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getConfiguration.getLoggerConfig(name)
    assert(cfg.getName == name)
    def filtered(msg: String): Boolean = cfg.isFiltered(
      Log4jLogEvent.newBuilder().setLoggerName(name).setLevel(Level.WARN)
        .setMessage(new SimpleMessage(msg)).build())
    assert(filtered("No Partition Defined for Window operation! Moving " +
      "all data to a single partition, this can cause serious " +
      "performance degradation."))
    assert(!filtered("Some other WindowExec warning"))
    assert(!filtered("spilled 12 MB of window buffer to disk"))
  }
}
