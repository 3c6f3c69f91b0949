package graft.apps

import graft.streaming.AsyncEnrich

import java.io.InputStream
import java.util.Properties
import scala.util.Using

/**
 * S8 — env-rooted typed config with layered overrides
 * (utils/pureconfig/RootPureConfig.scala:11-64 re-shaped): the reference
 * loads a HOCON tree under an environment root (`dev.mediation.ttl-time`)
 * from resources, file, or a remote blob, with the env chosen at launch.
 * Same capability on JDK `Properties` (no extra deps in this build):
 *
 *   resolution order (last wins):
 *     classpath resource `graft.properties`  →  `configFile` (if given)
 *     →  JVM system properties
 *   key shape: `<env>.mediation.<field>`, e.g. `dev.mediation.ttl-millis`
 *
 * `configFile` resolves through Hadoop FS, so the override can live on any
 * supported store (`file://`, `hdfs://`, object stores) — the remote-blob
 * config override of `readConfigFromGcsOrResources`
 * (utils/pureconfig/RootPureConfig.scala:58-64) without the GCS coupling.
 *
 * Unknown keys are ignored; absent keys keep [[MediationApp.Config]]
 * defaults — additive config, same contract as the reference's per-env
 * HOCON fallbacks.
 */
object GraftConfig {

  def load(env: String, configFile: Option[String] = None,
      hadoopConf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): MediationApp.Config = {
    val props = new Properties()
    resource("graft.properties").foreach(in =>
      Using.resource(in)(props.load))
    configFile.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      Using.resource(p.getFileSystem(hadoopConf).open(p))(props.load(_))
    }
    props.putAll(System.getProperties) // sysprops win
    fromProps(props, env)
  }

  private def resource(name: String): Option[InputStream] =
    Option(getClass.getClassLoader.getResourceAsStream(name))

  private[apps] def fromProps(props: Properties, env: String): MediationApp.Config = {
    def get(field: String): Option[String] =
      Option(props.getProperty(s"$env.mediation.$field")).map(_.trim)
    def long(field: String, dflt: Long): Long = get(field).map(_.toLong).getOrElse(dflt)
    def int(field: String, dflt: Int): Int = get(field).map(_.toInt).getOrElse(dflt)
    def bool(field: String, dflt: Boolean): Boolean = get(field).map(_.toBoolean).getOrElse(dflt)
    def str(field: String, dflt: String): String = get(field).getOrElse(dflt)

    val enrichDflt = AsyncEnrich.Config()
    MediationApp.Config(
      ttlMillis = long("ttl-millis", MediationApp.Config().ttlMillis),
      timerCleanup = bool("timer-cleanup", MediationApp.Config().timerCleanup),
      toxicWindow = str("toxic-window", MediationApp.Config().toxicWindow),
      watermarkDelay = str("watermark-delay", MediationApp.Config().watermarkDelay),
      source = str("source", MediationApp.Config().source),
      kafkaBootstrap = str("kafka-bootstrap", MediationApp.Config().kafkaBootstrap),
      kafkaTopic = str("kafka-topic", MediationApp.Config().kafkaTopic),
      enrich = AsyncEnrich.Config(
        maxConcurrency = int("max-concurrency", enrichDflt.maxConcurrency),
        ratePerSec = int("rate-per-sec", enrichDflt.ratePerSec),
        burst = int("burst", enrichDflt.burst),
        maxRetries = int("max-retries", enrichDflt.maxRetries),
        backoffMillis = long("backoff-millis", enrichDflt.backoffMillis),
        clientId = str("client-id", enrichDflt.clientId)))
  }
}
