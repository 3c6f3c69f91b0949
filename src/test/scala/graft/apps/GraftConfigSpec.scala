package graft.apps

import org.scalatest.funsuite.AnyFunSuite

import java.util.Properties

class GraftConfigSpec extends AnyFunSuite {

  test("env-rooted keys override defaults; other envs ignored") {
    val p = new Properties()
    p.setProperty("dev.mediation.ttl-millis", "5000")
    p.setProperty("dev.mediation.max-retries", "7")
    p.setProperty("dev.mediation.source", "kafka")
    p.setProperty("dev.mediation.kafka-bootstrap", "broker:9092")
    p.setProperty("dev.mediation.kafka-topic", "bers")
    p.setProperty("prod.mediation.ttl-millis", "259200000") // other env
    val dev = GraftConfig.fromProps(p, "dev")
    assert(dev.ttlMillis == 5000L)
    assert(dev.enrich.maxRetries == 7)
    assert(dev.toxicWindow == "30 seconds") // untouched default
    assert(dev.source == "kafka")
    assert(dev.kafkaBootstrap == "broker:9092")
    assert(dev.kafkaTopic == "bers")
    val prod = GraftConfig.fromProps(p, "prod")
    assert(prod.ttlMillis == 259200000L) // the reference's 3-day prod TTL
    assert(prod.enrich.maxRetries == 3) // default retained
  }

  test("absent keys keep every default") {
    val cfg = GraftConfig.fromProps(new Properties(), "dev")
    assert(cfg == MediationApp.Config())
  }

  test("configFile override resolves through Hadoop FS (file:// URI)") {
    val f = java.nio.file.Files.createTempFile("graft", ".properties")
    java.nio.file.Files.writeString(f, "dev.mediation.ttl-millis=777\n")
    val cfg = GraftConfig.load("dev", Some(f.toUri.toString))
    assert(cfg.ttlMillis == 777L)
  }
}
