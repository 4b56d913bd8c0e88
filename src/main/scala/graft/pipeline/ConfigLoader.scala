package graft.pipeline

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.{col, expr, lit, when}
import graft.pipeline.Pipeline._

/** Declarative pipeline config (confmap/otelcol analog): a JSON
  * document describing receivers → processors → exporters builds a
  * runnable [[Pipeline.Service]]. Processor conditions/expressions are
  * Spark SQL strings, so the config surface is the full SQL function
  * library — the OTTL role in the collector.
  *
  * {
  *  "pipelines": {
  *   "logs/errors": {
  *    "receiver":   {"type": "table", "dir": "/data/sf", "table": "events"},
  *    "processors": [{"type": "filter", "where": "event_type = 'error'"},
  *                   {"type": "upsert", "name": "sev", "expr": "upper(event_type)"},
  *                   {"type": "drop", "columns": ["props"]},
  *                   {"type": "select", "exprs": ["event_id", "sev"]}],
  *    "exporters":  [{"type": "parquet", "path": "/out/errors"}]
  *   }
  *  }
  * }
  */
object ConfigLoader {

  /** confmap env expansion, both generations, expanded textually
    * before parsing exactly like the collector resolves a config:
    *  - `${env:VAR}` / `${env:VAR:-default}` — the modern envprovider
    *    scheme (confmap/provider/envprovider); unset with no default
    *    is a loud config error.
    *  - `${VAR}` — scheme-less braces resolve as env too (the
    *    resolver's default scheme); unset is a loud error. The
    *    default form `${VAR:-x}` is NOT valid scheme-less — it is
    *    rejected loudly naming `${env:VAR:-x}`, never left verbatim.
    *  - `$VAR` — the LEGACY expandconverter form
    *    (confmap/converter/expandconverter, deprecated upstream but
    *    still in the reference's DEFAULT converter set,
    *    otelcol/configprovider.go:139): expanded when the variable is
    *    set AND the `graft.confmap.expandLegacy` gate is enabled (it
    *    is by default — Beta). Disabling the gate leaves every bare
    *    `$VAR` verbatim: the opt-out for configs carrying literal
    *    dollar text a set env var would silently rewrite. Deviation,
    *    documented: an UNSET bare $VAR is left verbatim instead of
    *    deleted — os.ExpandEnv's empty-on-unset silently corrupts
    *    dollar text that was never meant as a variable, which is
    *    exactly why the form was deprecated.
    *  - `$$` — a literal `$` (the escape both generations honor). */
  def expandEnv(json: String,
                env: String => Option[String] = sys.env.get,
                legacyBare: Boolean = FeatureGate.ExpandLegacy.isEnabled): String =
    ("(\\$\\$)" +
      "|\\$\\{env:([A-Za-z_][A-Za-z0-9_]*)(?::-([^}]*))?\\}" +
      "|\\$\\{([A-Za-z_][A-Za-z0-9_]*):-[^}]*\\}" +
      "|\\$\\{([A-Za-z_][A-Za-z0-9_]*)\\}" +
      "|\\$([A-Za-z_][A-Za-z0-9_]*)").r
      .replaceAllIn(json, m => scala.util.matching.Regex.quoteReplacement(
        if (m.group(1) != null) "$"
        else if (m.group(2) != null)
          env(m.group(2)).orElse(Option(m.group(3))).getOrElse(
            throw new IllegalArgumentException(
              s"env var ${m.group(2)} is unset and has no default"))
        else if (m.group(4) != null)
          // a scheme-less braced form with a default is a plausible
          // typo for the supported ${env:VAR:-default}; left verbatim
          // it would silently ship the literal text into the parsed
          // document — refuse with the form the user meant
          throw new IllegalArgumentException(
            s"$${${m.group(4)}:-...} is not a supported expansion — " +
              s"scheme-less braces take no default; write " +
              s"$${env:${m.group(4)}:-default}")
        else if (m.group(5) != null)
          env(m.group(5)).getOrElse(throw new IllegalArgumentException(
            s"env var ${m.group(5)} is unset (braced expansion has no default form)"))
        else if (legacyBare) env(m.group(6)).getOrElse(m.matched)
        else m.matched))

  def fromJson(json: String,
               env: String => Option[String] = sys.env.get,
               gates: FeatureGate.Registry = FeatureGate.global): Service =
    fromText(json, yaml = false, env, gates)

  /** yamlprovider analog (reference: confmap/provider/yamlprovider):
    * the same pipeline document in YAML — parsed with the Jackson
    * YAML dataformat into the identical map shape, so every receiver/
    * processor/exporter type and the env expansion behave exactly as
    * in JSON. */
  def fromYaml(yaml: String,
               env: String => Option[String] = sys.env.get,
               gates: FeatureGate.Registry = FeatureGate.global): Service =
    fromText(yaml, yaml = true, env, gates)

  /** confmap resolver analog: dispatch a config URI to its provider
    * (reference: confmap/resolver.go +
    * confmap/provider/{fileprovider,envprovider,yamlprovider,
    * httpprovider}). Supported forms:
    *  - `file:/path` or a bare path — fileprovider
    *  - `env:VAR` — envprovider, the variable holds a whole document
    *  - `http://...` — httpprovider: the config is fetched from the
    *    endpoint (specs serve it from a loopback server; any
    *    reachable endpoint works the same)
    * Format is chosen by extension (.yaml/.yml vs .json) with a
    * content sniff as the fallback (a document starting with '{' is
    * JSON); `${env:VAR}` expansion applies to the retrieved text in
    * every case — the resolver chain order of the collector. */
  def fromUri(uri: String,
              env: String => Option[String] = sys.env.get,
              gates: FeatureGate.Registry = FeatureGate.global): Service = {
    val (text, hint) = retrieve(uri, env, gates)
    val isYaml =
      if (hint.endsWith(".yaml") || hint.endsWith(".yml")) true
      else if (hint.endsWith(".json")) false
      else !text.dropWhile(_.isWhitespace).startsWith("{")
    fromText(text, isYaml, env, gates)
  }

  /** one provider dispatch: fetch the raw document for a config URI
    * (shared by [[fromUri]] and the [[watch]] poll loop) */
  private def retrieve(uri: String,
                       env: String => Option[String],
                       gates: FeatureGate.Registry): (String, String) = {
    uri match {
      case u if u.startsWith("env:") =>
        val name = u.stripPrefix("env:")
        (env(name).getOrElse(throw new IllegalArgumentException(
          s"env var $name is unset (env: config provider)")), u)
      case u if u.startsWith("http://") || u.startsWith("https://") =>
        // remote config is gate-closeable: an operator that disables
        // graft.confmap.httpProvider shuts this surface entirely
        if (!gates.isEnabled(FeatureGate.HttpConfigProvider.id))
          throw new IllegalStateException(
            s"http(s) config provider is disabled by feature gate " +
              s"${FeatureGate.HttpConfigProvider.id}")
        // a hung or slow config endpoint must not block service
        // startup forever, and a runaway response must not buffer
        // unbounded — connect/read timeouts plus a byte cap
        val conn = java.net.URI.create(u).toURL.openConnection()
        conn.setConnectTimeout(httpTimeoutMs)
        conn.setReadTimeout(httpTimeoutMs)
        val in = conn.getInputStream
        try (readCapped(in, httpMaxBytes, u), u)
        finally in.close()
      case u if u.startsWith("yaml:") =>
        // yamlprovider (confmap/provider/yamlprovider/provider.go):
        // the bytes AFTER the scheme are an inline YAML document;
        // `::` inside a key is confmap's KeyDelimiter, so
        // `yaml:exporters::0::path: /x` addresses nested maps the way
        // the reference Conf does. Parsed here and re-emitted as JSON
        // with the delimited keys expanded to real nesting, so the
        // overlay deep-merges like any other document.
        val body = u.stripPrefix("yaml:")
        val root = new com.fasterxml.jackson.databind.ObjectMapper(
            new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
          .readValue(body, classOf[java.util.Map[String, Object]])
        (new com.fasterxml.jackson.databind.ObjectMapper()
          .writeValueAsString(expandKeyDelims(root)), "yaml_inline.json")
      case u =>
        val path = u.stripPrefix("file:")
        (new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8"), path)
    }
  }

  /** expand confmap KeyDelimiter keys (`a::b::c`) into real map
    * nesting, recursively; sibling delimited keys deep-merge */
  private def expandKeyDelims(
      m: java.util.Map[String, Object]): java.util.Map[String, Object] = {
    var out = new java.util.LinkedHashMap[String, Object]()
      : java.util.Map[String, Object]
    m.forEach { (k, v0) =>
      val v: Object = v0 match {
        case mm: java.util.Map[_, _] =>
          expandKeyDelims(mm.asInstanceOf[java.util.Map[String, Object]])
        case other => other
      }
      val parts = k.split("::", -1).toSeq // -1 keeps trailing empties loud
      require(parts.nonEmpty && parts.forall(_.nonEmpty),
        s"yaml: provider key has an empty `::` segment: '$k'")
      val nested: Object = parts.tail.foldRight(v) { (seg, inner) =>
        val one = new java.util.LinkedHashMap[String, Object]()
        one.put(seg, inner)
        one
      }
      val wrap = new java.util.LinkedHashMap[String, Object]()
      wrap.put(parts.head, nested)
      out = deepMerge(out, wrap)
    }
    out
  }

  /** confmap watcher analog (reference: confmap/resolver.go's Watch
    * channel + the collector's reload loop — a provider signals
    * change, the whole config re-resolves and the service rebuilds):
    * poll the URI every `intervalMs`; when the retrieved document
    * CHANGES, rebuild and hand the new Service to `onReload`. The
    * initial document loads immediately (the collector's startup
    * resolve). A changed document that fails validation is REJECTED —
    * counted, reported to `onError`, and the previous service keeps
    * running (the collector refuses a bad reload rather than dying);
    * the same bad text is not re-attempted until it changes again.
    * close() stops the loop. */
  def watch(uri: String, intervalMs: Long,
            env: String => Option[String] = sys.env.get,
            onError: Throwable => Unit = _ => (),
            gates: FeatureGate.Registry = FeatureGate.global)(
            onReload: Service => Unit): ConfigWatcher = {
    if (!gates.isEnabled(FeatureGate.ConfigWatch.id))
      throw new IllegalStateException(
        s"config watch is disabled by feature gate ${FeatureGate.ConfigWatch.id}")
    new ConfigWatcher(uri, intervalMs, env, onReload, onError, gates)
  }

  final class ConfigWatcher private[ConfigLoader] (
      uri: String, intervalMs: Long, env: String => Option[String],
      onReload: Service => Unit, onError: Throwable => Unit,
      gates: FeatureGate.Registry)
      extends AutoCloseable {
    val reloads = new java.util.concurrent.atomic.AtomicLong
    val rejected = new java.util.concurrent.atomic.AtomicLong
    @volatile private var running = true
    @volatile private var lastText: String = null

    private def poll(): Unit = {
      val (text, hint) = retrieve(uri, env, gates)
      if (text != lastText) {
        lastText = text // a bad doc is not retried until it changes
        try {
          val isYaml =
            if (hint.endsWith(".yaml") || hint.endsWith(".yml")) true
            else if (hint.endsWith(".json")) false
            else !text.dropWhile(_.isWhitespace).startsWith("{")
          val svc = fromText(text, isYaml, env, gates)
          reloads.incrementAndGet()
          onReload(svc)
        } catch {
          case scala.util.control.NonFatal(e) =>
            rejected.incrementAndGet()
            onError(e)
        }
      }
    }

    // startup resolve happens synchronously so callers hold a valid
    // service before the watcher thread exists
    poll()
    private val t = new Thread(() => {
      try {
        while (running) {
          Thread.sleep(intervalMs)
          if (running)
            try poll()
            catch { case scala.util.control.NonFatal(e) => onError(e) }
        }
      } catch { case _: InterruptedException => () } // close()
    }, s"graft-config-watch")
    t.setDaemon(true)
    t.start()

    def close(): Unit = { running = false; t.interrupt() }
  }

  /** http provider guards: a config document is small by contract —
    * 4 MiB is far past any real pipeline graph, and 10 s covers a
    * slow link without wedging startup. */
  private[pipeline] val httpTimeoutMs: Int = 10000
  private[pipeline] val httpMaxBytes: Int = 4 << 20

  private def readCapped(in: java.io.InputStream, cap: Int,
                         source: String): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](8192)
    var n = in.read(chunk)
    while (n >= 0) {
      buf.write(chunk, 0, n)
      if (buf.size > cap) throw new IllegalStateException(
        s"config document from $source exceeds $cap bytes — refusing to buffer")
      n = in.read(chunk)
    }
    buf.toString("UTF-8")
  }

  /** configopaque analog (reference config/configopaque/opaque.go:
    * a declared-sensitive field marshals as `[REDACTED]`) applied to
    * the collector's print-config surface: render the RESOLVED
    * document (env expanded — what the service actually runs) with
    * every opaque field masked, so the effective config is safe to
    * log, ship to support, or publish on a debug endpoint.
    *
    * Opaque fields are DECLARED, not guessed — the reference redacts
    * by declared type (configopaque.String), not name sniffing; the
    * set below is every credential-carrying key a graft component
    * defines. A scalar masks in place; a list masks element-wise
    * (cardinality is not sensitive — the reference renders each
    * opaque list element as its own `[REDACTED]`); a map collapses
    * entirely because its KEYS may be the secrets (api_keys). */
  val OpaqueKeys: Set[String] =
    Set("bearer_token", "bearer_tokens", "password", "api_key",
        "basic_users", "api_keys")

  /** map-valued opaque fields whose KEYS are structural (header
    * names) but whose VALUES are credentials — masked element-wise
    * with names kept, exactly how the reference marshals
    * `map[string]configopaque.String` (confighttp Headers) */
  val OpaqueValueMaps: Set[String] = Set("headers")

  def effectiveConfig(doc: String, yaml: Boolean = false,
                      env: String => Option[String] = sys.env.get): String = {
    val inMapper =
      if (yaml) new com.fasterxml.jackson.databind.ObjectMapper(
        new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
      else new com.fasterxml.jackson.databind.ObjectMapper()
    val root = inMapper.readValue(expandEnv(doc, env),
      classOf[java.util.Map[String, Object]])
    val Mask = "[REDACTED]"
    def walk(o: Object): Object = o match {
      case m: java.util.Map[_, _] =>
        val out = new java.util.LinkedHashMap[String, Object]()
        m.asInstanceOf[java.util.Map[String, Object]].forEach { (k, v) =>
          out.put(k,
            if (OpaqueValueMaps(k)) v match {
              case vm: java.util.Map[_, _] =>
                val r = new java.util.LinkedHashMap[String, Object]()
                vm.asInstanceOf[java.util.Map[String, Object]]
                  .forEach((hk, _) => r.put(hk, Mask))
                r
              case _ => Mask
            } else if (OpaqueKeys(k)) v match {
              case l: java.util.List[_] =>
                val r = new java.util.ArrayList[Object]()
                l.forEach(_ => r.add(Mask))
                r
              case _ => Mask
            } else walk(v))
        }
        out
      case l: java.util.List[_] =>
        val r = new java.util.ArrayList[Object]()
        l.asInstanceOf[java.util.List[Object]].forEach(v => r.add(walk(v)))
        r
      case other => other
    }
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writerWithDefaultPrettyPrinter().writeValueAsString(walk(root))
  }

  private def parseRoot(doc: String, yaml: Boolean,
                        env: String => Option[String],
                        gates: FeatureGate.Registry = FeatureGate.global)
      : java.util.Map[String, Object] = {
    val mapper =
      if (yaml) new com.fasterxml.jackson.databind.ObjectMapper(
        new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
      else new com.fasterxml.jackson.databind.ObjectMapper()
    // honor the per-call registry when it knows the gate; a custom
    // registry without it (tests build minimal ones) falls back to
    // the global gate instead of throwing unknown-gate
    val legacy = gates.get(FeatureGate.ExpandLegacy.id)
      .map(_.isEnabled).getOrElse(FeatureGate.ExpandLegacy.isEnabled)
    mapper.readValue(expandEnv(doc, env, legacyBare = legacy),
      classOf[java.util.Map[String, Object]])
  }

  /** confmap.Conf.Merge semantics (reference confmap/confmap.go via
    * resolver.go:55-57,123: later documents win; nested MAPS merge
    * recursively, every other value — scalars AND lists — is
    * replaced wholesale by the later document). */
  private def deepMerge(a: java.util.Map[String, Object],
                        b: java.util.Map[String, Object]): java.util.Map[String, Object] = {
    val out = new java.util.LinkedHashMap[String, Object](a)
    b.forEach { (k, v) =>
      (out.get(k), v) match {
        case (pm: java.util.Map[_, _], vm: java.util.Map[_, _]) =>
          out.put(k, deepMerge(
            pm.asInstanceOf[java.util.Map[String, Object]],
            vm.asInstanceOf[java.util.Map[String, Object]]))
          ()
        case _ => out.put(k, v); ()
      }
    }
    out
  }

  /** Multi-URI resolve-and-merge — the collector's REPEATABLE
    * `--config` flag (confmap/resolver.go:40 "URIs ... merged in the
    * given order"): retrieve every URI through its provider, merge
    * the parsed documents with [[deepMerge]], then validate and
    * build ONCE on the result — a later overlay can retune one
    * nested knob (a receiver path, an exporter's auth) while the
    * base document supplies everything else. Formats may mix (a JSON
    * base with a YAML overlay). */
  def fromUris(uris: Seq[String],
               env: String => Option[String] = sys.env.get,
               gates: FeatureGate.Registry = FeatureGate.global,
               // the `--set` flag (otelcol/flags.go:40-52): dotted
               // property paths merged LAST, so they take precedence
               // over every config document
               sets: Seq[String] = Nil): Service = {
    require(uris.nonEmpty, "at least one config URI required")
    val roots = uris.map { u =>
      val (text, hint) = retrieve(u, env, gates)
      val isYaml =
        if (hint.endsWith(".yaml") || hint.endsWith(".yml")) true
        else if (hint.endsWith(".json")) false
        else !text.dropWhile(_.isWhitespace).startsWith("{")
      parseRoot(text, isYaml, env, gates)
    }
    val merged = (roots ++ sets.map(setOverlay)).reduce(deepMerge)
    buildFromRoot(merged.asScala, gates)
  }

  /** one `--set key.path=value` as a nested single-entry document;
    * scalar typing follows YAML rules (ints/bools/doubles type, the
    * rest stays a string) — merged after the config files, maps join,
    * scalars/arrays override (flags.go precedence contract) */
  private[pipeline] def setOverlay(set: String): java.util.Map[String, Object] = {
    val eq = set.indexOf('=')
    require(eq > 0, s"--set requires key=value, got: '$set'")
    val pathParts = set.substring(0, eq).split("\\.").toSeq
    require(pathParts.forall(_.nonEmpty), s"--set has an empty path segment: '$set'")
    val raw = set.substring(eq + 1)
    val value: Object = {
      def toLong = scala.util.Try(java.lang.Long.valueOf(raw)).toOption
      def toDouble = scala.util.Try(java.lang.Double.valueOf(raw)).toOption
      if (raw == "true") java.lang.Boolean.TRUE
      else if (raw == "false") java.lang.Boolean.FALSE
      else toLong.orElse(toDouble).getOrElse(raw)
    }
    pathParts.foldRight(value) { (seg, inner) =>
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put(seg, inner)
      m
    }.asInstanceOf[java.util.Map[String, Object]]
  }

  private def fromText(doc: String, yaml: Boolean,
                       env: String => Option[String],
                       gates: FeatureGate.Registry = FeatureGate.global): Service =
    buildFromRoot(parseRoot(doc, yaml, env, gates).asScala, gates)

  /** Static component-type inventory of a resolved config: kind →
    * the set of component types the document references. This is the
    * surface a BUILT DISTRIBUTION (cmd/builder) checks a config
    * against — an ocb-built collector simply does not contain
    * components outside its manifest, so referencing one must fail
    * at validation, not at run time. */
  def usedComponentTypes(uris: Seq[String],
                         env: String => Option[String] = sys.env.get,
                         gates: FeatureGate.Registry = FeatureGate.global,
                         // --set overlays participate: a `--set
                         // pipelines.X.receiver.type=...` override
                         // must face the same distribution gate as
                         // the documents it overrides
                         sets: Seq[String] = Nil):
      Map[String, Set[String]] = {
    require(uris.nonEmpty, "at least one config URI required")
    val roots = uris.map { u =>
      val (text, hint) = retrieve(u, env, gates)
      val isYaml =
        if (hint.endsWith(".yaml") || hint.endsWith(".yml")) true
        else if (hint.endsWith(".json")) false
        else !text.dropWhile(_.isWhitespace).startsWith("{")
      parseRoot(text, isYaml, env, gates)
    }
    val root = (roots ++ sets.map(setOverlay)).reduce(deepMerge).asScala
    val pipelines = root.get("pipelines").map(asMap).getOrElse(Map.empty)
    var recv = Set.empty[String]; var proc = Set.empty[String]
    var expo = Set.empty[String]
    pipelines.values.foreach { p0 =>
      val p = asMap(p0)
      p.get("receiver").map(asMap).flatMap(_.get("type"))
        .foreach(t => recv += t.toString)
      p.get("receivers").toSeq
        .flatMap(_.asInstanceOf[java.util.List[Object]].asScala)
        .foreach(m => asMap(m).get("type").foreach(t => recv += t.toString))
      p.get("processors").toSeq
        .flatMap(_.asInstanceOf[java.util.List[Object]].asScala)
        .foreach(m => asMap(m).get("type").foreach(t => proc += t.toString))
      p.get("exporters").toSeq
        .flatMap(_.asInstanceOf[java.util.List[Object]].asScala)
        .foreach(m => asMap(m).get("type").foreach(t => expo += t.toString))
    }
    // extension instance names carry their type as the `/`-prefix
    val ext = root.get("extensions").map(asMap).getOrElse(Map.empty)
      .keySet.map(_.split("/", 2)(0)).toSet
    Map("receivers" -> recv, "processors" -> proc,
        "exporters" -> expo, "extensions" -> ext)
  }

  private def buildFromRoot(root: scala.collection.Map[String, Object],
                            gates: FeatureGate.Registry): Service = {
    // featuregate config override: same `-`/`+` item syntax as the
    // --feature-gates flag; an unknown gate or a terminal-stage
    // violation REJECTS the whole document (config validation, not a
    // silent no-op). Validation happens HERE, but the flips commit
    // only after the whole Service builds — a document rejected later
    // (unknown processor, bad wiring, connector cycle) must leave the
    // live registry untouched, or a watch-loop reload of a bad config
    // would mutate gate state it claims to have rejected.
    val gateFlips: Seq[(String, Boolean)] =
      root.get("featuregates").toSeq.flatMap(strList)
        .flatMap(item => FeatureGate.parseFlags(item))
    gateFlips.foreach { case (id, v) => gates.validateSet(id, v) }
    // extensions: a top-level `extensions:` section DECLARES
    // instances; `service: {extensions: [names]}` ENABLES them in
    // start order (reference service/config.go two-sided validation:
    // an enabled-but-undeclared name rejects the document; a
    // declared-but-unlisted extension is never built)
    val declaredExt: Map[String, Map[String, Object]] =
      root.get("extensions").map(asMap).getOrElse(Map.empty)
        .map { case (k, v) => k -> asMap(v) }
    val svcBlock: Map[String, Object] =
      root.get("service").map(asMap).getOrElse(Map.empty)
    val enabledExt: Seq[String] = svcBlock.get("extensions").toSeq.flatMap(strList)
    for (n <- enabledExt if !declaredExt.contains(n))
      throw new IllegalArgumentException(
        s"service.extensions references undeclared extension '$n'")
    val extInstances: Seq[Extensions.Extension] =
      enabledExt.map(n => buildExtension(n, declaredExt(n)))
    def extLookup(name: String): Extensions.Extension =
      extInstances.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          if (declaredExt.contains(name))
            s"extension '$name' is declared but not enabled under service.extensions"
          else s"unknown extension '$name'"))
    // service::telemetry::metrics::level (config/configtelemetry):
    // internal-telemetry verbosity, default basic
    val telemetryLevel: Extensions.TelemetryLevel =
      svcBlock.get("telemetry").map(asMap)
        .flatMap(_.get("metrics")).map(asMap)
        .flatMap(_.get("level"))
        .map(v => Extensions.TelemetryLevel.parse(v.toString))
        .getOrElse(Extensions.TelemetryLevel.default)
    // service::telemetry::resource (telemetry.Config.Resource): extra
    // resource attributes stamped on the service's OWN telemetry —
    // overriding keys wins (the reference lets you override
    // service.name); a null value would delete, we keep it simple:
    // string values only
    val telemetryResource: Map[String, String] =
      svcBlock.get("telemetry").map(asMap)
        .flatMap(_.get("resource")).map(asMap).getOrElse(Map.empty)
        .map { case (k, v) => k -> v.toString }
    // service::telemetry::metrics::address (service/telemetry.go:
    // 202-206): where the service serves its own metrics in
    // Prometheus exposition format; absent = no self-metrics server
    val telemetryAddress: Option[String] =
      svcBlock.get("telemetry").map(asMap)
        .flatMap(_.get("metrics")).map(asMap)
        .flatMap(_.get("address")).map(_.toString)
    // service::telemetry::metrics::readers (telemetry/config.go:
    // 111-113,161-186 + generated_config.go MetricReader): the newer
    // metric-reader list alongside `address`. Each entry is
    // `pull: {exporter: {prometheus: {host, port}}}` (→ the same
    // Prometheus server `address` starts) or
    // `periodic: {interval?, exporter: {console: {}}}` (→ the jsonl
    // line writer). Shapes the reference refuses, refuse here with
    // the same teeth: a pull reader without a prometheus exporter, a
    // periodic reader without console (otlp push is not supported —
    // the error names console), an unknown reader kind.
    val telemetryReaders: Seq[Extensions.MetricReader] =
      svcBlock.get("telemetry").map(asMap)
        .flatMap(_.get("metrics")).map(asMap)
        .flatMap(_.get("readers")).toSeq
        .flatMap(_.asInstanceOf[java.util.List[Object]].asScala)
        .map { r0 =>
          val r = asMap(r0)
          (r.get("pull").map(asMap), r.get("periodic").map(asMap)) match {
            case (Some(p), None) =>
              val prom = p.get("exporter").map(asMap)
                .flatMap(_.get("prometheus")).map(asMap).getOrElse(
                  throw new IllegalArgumentException(
                    "pull metric reader requires exporter: {prometheus: ...}"))
              Extensions.PullPrometheusReader(
                host = prom.get("host").map(_.toString).getOrElse("localhost"),
                port = prom.get("port").map(_.asInstanceOf[Number].intValue()).getOrElse(8888))
            case (None, Some(p)) =>
              val exp = p.get("exporter").map(asMap).getOrElse(
                throw new IllegalArgumentException(
                  "periodic metric reader requires an exporter block"))
              val iv = p.get("interval").map(_.asInstanceOf[Number].longValue()).getOrElse(60000L)
              require(iv > 0,
                s"periodic metric reader interval must be positive, got $iv")
              // console → the jsonl line writer; otlp → the push
              // reader over the existing otlp_http/otlp_grpc client
              // machinery (proctelemetry initPeriodicExporter accepts
              // exactly these two; anything else is
              // errNoValidMetricExporter)
              (exp.get("console"), exp.get("otlp")) match {
                case (Some(_), None) =>
                  Extensions.PeriodicConsoleReader(intervalMs = iv)
                case (None, Some(o)) =>
                  val push = parseOtlpPush(asMap(o),
                    timeoutKey = p.get("timeout")
                      .map(_.asInstanceOf[Number].longValue()))
                  Extensions.PeriodicOtlpReader(intervalMs = iv, otlp = push)
                case (Some(_), Some(_)) => throw new IllegalArgumentException(
                  "periodic metric reader declares BOTH console and otlp " +
                    "exporters — pick one")
                case (None, None) => throw new IllegalArgumentException(
                  "periodic metric reader requires exporter: {console: {}} " +
                    "or exporter: {otlp: {endpoint, protocol}}")
              }
            case (Some(_), Some(_)) => throw new IllegalArgumentException(
              "metric reader declares BOTH pull and periodic — pick one")
            case (None, None) => throw new IllegalArgumentException(
              s"unknown metric reader kind (expected pull or periodic): ${r.keys.mkString(",")}")
          }
        }
    // service::telemetry::metrics::views — explicit view
    // configuration over the obsreport catalog (the surface the
    // reference's DisableHighCardinalityMetrics gate registration
    // promises: "the gate will be removed when the collector allows
    // for view configuration", obsreportconfig.go:24-30). Each entry:
    // {instrument: "otelcol_receiver_*", drop: [keys],
    //  when: {transport: grpc}} — instrument + non-empty drop are
    // required (View's own require), `when` optional. The
    // disable_high_cardinality built-ins ride the feature gate
    // instead (featuregates: [telemetry.disableHighCardinalityMetrics]).
    val telemetryViews: Seq[Obsreport.View] =
      svcBlock.get("telemetry").map(asMap)
        .flatMap(_.get("metrics")).map(asMap)
        .flatMap(_.get("views")).toSeq
        .flatMap(_.asInstanceOf[java.util.List[Object]].asScala)
        .map { v0 =>
          val v = asMap(v0)
          Obsreport.View(
            instrument = v.get("instrument").map(_.toString).getOrElse(
              throw new IllegalArgumentException(
                "telemetry metrics view requires an `instrument` selector")),
            dropKeys = v.get("drop").toSeq.flatMap(strList).toSet,
            whenDims = v.get("when").map(asMap).getOrElse(Map.empty)
              .map { case (k, x) => k -> x.toString })
        }
    // service::telemetry::logs (telemetry LogsConfig → newLogger):
    // the service's OWN logger — level/encoding/output_paths/
    // sampling/initial_fields. Validated here (bad level/encoding
    // refuses the document, zap-Build semantics); absent = the CLI's
    // plain output only.
    val telemetryLogs: Option[ServiceLogger.LogsConfig] =
      svcBlock.get("telemetry").map(asMap)
        .flatMap(_.get("logs")).map(asMap)
        .map(ServiceLogger.fromMap)
    // service::telemetry::traces::propagators (telemetry.go:234-245):
    // named text-map propagators, composed in declared order; an
    // unknown name refuses the whole document (errUnsupportedPropagator)
    val telemetryPropagators: Seq[String] =
      svcBlock.get("telemetry").map(asMap)
        .flatMap(_.get("traces")).map(asMap)
        .flatMap(_.get("propagators")).toSeq
        .flatMap(_.asInstanceOf[java.util.List[Object]].asScala)
        .map(_.toString)
    // validate now — the composite the receivers share
    val propagator: Option[graft.sources.Propagators.Composite] =
      if (telemetryPropagators.isEmpty) None
      else Some(graft.sources.Propagators.fromConfig(telemetryPropagators))
    // service::telemetry::traces::sampler (generated_config.go:
    // 204-230,575-576): the self-tracing sampler mode — always_on /
    // always_off / trace_id_ratio_based / parent_based with the four
    // remote/local × sampled/not variants; jaeger_remote refused
    // loudly inside the parser. Absent = the reference's record-only
    // parent-based default (otel_trace_sampler.go alwaysRecord).
    val telemetrySampler: SelfTrace.Sampler =
      svcBlock.get("telemetry").map(asMap)
        .flatMap(_.get("traces")).map(asMap)
        .flatMap(_.get("sampler")).map(s => SelfTrace.parseSampler(asMap(s)))
        .getOrElse(SelfTrace.DefaultAlwaysRecord)
    // service::telemetry::traces::processors (config.go:123-125 +
    // generated_config.go:560-566 SpanProcessor): how the service's
    // OWN spans leave the process. `batch:` only (the reference's
    // SpanProcessor.Unmarshal refuses anything else — config.go:
    // 158: "unsupported span processor type"); its exporter is
    // console OR otlp (generated_config.go:390-396 SpanExporter).
    // The configured sampler above gates what exports — sampler
    // before processor, telemetry.go:46-50.
    val telemetrySpanProcessors: Seq[SelfTelemetryOtlp.SpanProcessorConf] =
      svcBlock.get("telemetry").map(asMap)
        .flatMap(_.get("traces")).map(asMap)
        .flatMap(_.get("processors")).toSeq
        .flatMap(parseBatchProcessorList(_))
    // service::telemetry::logs::processors — the THIRD self-telemetry
    // signal (generated_config.go:57-76 LogRecordProcessor/
    // LogRecordExporter; identical field shape to the span side —
    // one parser serves both). Nested under `logs:` so the zap block
    // that produces the records is always configured alongside.
    val telemetryLogProcessors: Seq[SelfTelemetryOtlp.SpanProcessorConf] =
      svcBlock.get("telemetry").map(asMap)
        .flatMap(_.get("logs")).map(asMap)
        .flatMap(_.get("processors")).toSeq
        .flatMap(parseBatchProcessorList(_, "log"))
    val pipelines = root("pipelines").asInstanceOf[java.util.Map[String, Object]].asScala
    // two-phase so forward/union receivers can reference other
    // pipelines by name (the collector's connector wiring)
    var result: Map[String, PipelineDef] = null
    def lookup(n: String): PipelineDef = result.getOrElse(n,
      throw new IllegalArgumentException(s"pipeline '$n' not defined"))
    // sharedcomponent semantics (internal/sharedcomponent: one
    // component instance per id, shared across the pipelines that
    // reference it): IDENTICAL receiver declarations in one document
    // resolve to the SAME instance — two pipelines declaring the same
    // otlp_http port get one server, not a bind conflict; lifecycle
    // start is idempotent so the shared instance starts once.
    val receiverInstances =
      scala.collection.mutable.HashMap[Map[String, Object], Receiver]()
    def buildReceiverShared(m: Map[String, Object]): Receiver =
      receiverInstances.getOrElseUpdate(m, buildReceiver(m, lookup, propagator))
    // declared component identities for the obsreport catalog: id =
    // `type[/name]` (the collector's component-id form), transport
    // from the receiver type (obsmetrics TransportKey)
    def componentId(m: Map[String, Object]): String =
      str(m, "type") + m.get("name").map("/" + _).getOrElse("")
    def transportOf(tpe: String): String = tpe match {
      case "otlp_http" => "http"
      case "otlp_grpc" | "otlp_arrow" => "grpc"
      case "udp_lines" => "udp"
      case "scrape_jvm" => "scraper"
      case "forward" | "union" => "pipeline"
      case _ => "file"
    }
    result = pipelines.map { case (name, defn0) =>
      val defn = defn0.asInstanceOf[java.util.Map[String, Object]].asScala
      val recvMaps: Seq[Map[String, Object]] =
        (defn.get("receiver"), defn.get("receivers")) match {
          case (Some(r), None) => Seq(asMap(r))
          case (None, Some(rs)) =>
            rs.asInstanceOf[java.util.List[Object]].asScala.toSeq.map(asMap)
          case _ => Nil // the receiver field below raises the real error
        }
      name -> PipelineDef(
        // a pipeline declares ONE `receiver` or a `receivers` LIST
        // (the reference shape — every receiver feeds the same
        // processor chain); the list builds a union-by-name fanin
        receiver = (defn.get("receiver"), defn.get("receivers")) match {
          case (Some(r), None) => buildReceiverShared(asMap(r))
          case (None, Some(rs)) => MultiReceiver(
            rs.asInstanceOf[java.util.List[Object]].asScala.toSeq
              .map(r => buildReceiverShared(asMap(r))))
          case (Some(_), Some(_)) => throw new IllegalArgumentException(
            s"pipeline '$name': give `receiver` OR `receivers`, not both")
          case (None, None) => throw new IllegalArgumentException(
            s"pipeline '$name' declares no receiver")
        },
        processors = defn.get("processors").toSeq
          .flatMap(_.asInstanceOf[java.util.List[Object]].asScala)
          .map(p => buildProcessor(asMap(p))),
        exporters = defn.get("exporters").toSeq
          .flatMap(_.asInstanceOf[java.util.List[Object]].asScala)
          .zipWithIndex
          .map { case (e, i) => buildExporter(asMap(e), name, i, extLookup) },
        receiverIds = recvMaps.map(m =>
          (componentId(m), transportOf(str(m, "type")))),
        processorIds = defn.get("processors").toSeq
          .flatMap(_.asInstanceOf[java.util.List[Object]].asScala)
          .map(p => componentId(asMap(p))),
        exporterIds = defn.get("exporters").toSeq
          .flatMap(_.asInstanceOf[java.util.List[Object]].asScala)
          .map(e => componentId(asMap(e))))
    }.toMap
    rejectConnectorCycles(pipelines.toMap)
    // configured propagators must actually be CONSUMED: in graft the
    // one consumer is the otlp_http metadata sidecar (trace.* keys
    // need include_metadata). A document declaring propagators no
    // receiver reads would run as a silent no-op — refuse it loudly
    // instead, the same posture as unknown propagator names.
    if (propagator.isDefined) {
      def unwrap(r: Receiver): Seq[Receiver] = r match {
        case MultiReceiver(rs) => rs.flatMap(unwrap)
        case ClientInfoReceiver(inner, _) => unwrap(inner)
        case x => Seq(x)
      }
      val consumed = result.values.flatMap(p => unwrap(p.receiver)).exists {
        case h: OtlpHttpServerReceiver => h.includeMetadata
        case _ => false
      }
      require(consumed,
        "service::telemetry::traces::propagators is configured but no " +
          "receiver consumes it — add an otlp_http receiver with " +
          "include_metadata: true (the trace.* metadata sidecar is the " +
          "propagators' consumer), or remove the propagators block")
    }
    // whole document validated and built — NOW commit the gate flips
    gateFlips.foreach { case (id, v) => gates.set(id, v) }
    Service(result, extInstances, telemetryLevel, telemetryResource,
      telemetryAddress, telemetryLogs, telemetryReaders, telemetryViews,
      telemetrySampler, telemetrySpanProcessors, telemetryLogProcessors)
  }

  /** extension factory: the instance name's type prefix (before an
    * optional `/instance` suffix — the collector's `type/name` id
    * form) selects the implementation */
  private def buildExtension(name: String,
                             cfg: Map[String, Object]): Extensions.Extension =
    name.split("/", 2)(0) match {
      case "file_storage" =>
        new Extensions.FileStorage(str(cfg, "directory"), name)
      case "memory_ballast" =>
        new Extensions.MemoryBallast(
          cfg.get("size_mib").map(_.asInstanceOf[Number].intValue()).getOrElse(0),
          name)
      case "zpages" =>
        new Extensions.ZpagesExtension(
          cfg.get("port").map(_.asInstanceOf[Number].intValue()).getOrElse(0),
          name)
      case other =>
        throw new IllegalArgumentException(s"unknown extension type: $other")
    }

  /** the reference collector rejects bad connector graphs at config
    * validation — fail here with the defect named (a dangling
    * pipeline reference, or a cycle) instead of a lookup error /
    * StackOverflowError at plan time. ForwardReceiver resolves
    * lazily by design (two-phase wiring), so load time is the only
    * chance to refuse a dangling `from`. */
  private def rejectConnectorCycles(pipelines: Map[String, Object]): Unit = {
    val edges: Map[String, Seq[String]] = pipelines.map { case (name, defn0) =>
      val defn = asMap(defn0)
      val recvs: Seq[Map[String, Object]] =
        defn.get("receiver").map(r => Seq(asMap(r))).getOrElse(Nil) ++
          defn.get("receivers").toSeq
            .flatMap(_.asInstanceOf[java.util.List[Object]].asScala)
            .map(asMap)
      name -> recvs.flatMap { recv =>
        recv.get("type").map(_.toString) match {
          case Some("forward") => Seq(str(recv, "from"))
          case Some("union")   => strList(recv("from"))
          case _               => Nil
        }
      }
    }
    for ((name, tos) <- edges; to <- tos if !edges.contains(to))
      throw new IllegalArgumentException(
        s"pipeline '$name' forwards from undefined pipeline '$to'")
    def walk(n: String, path: List[String]): Unit = {
      if (path.contains(n))
        throw new IllegalArgumentException(
          s"cyclic connector graph: ${(n :: path.takeWhile(_ != n) ::: List(n)).reverse.mkString(" -> ")}")
      edges.getOrElse(n, Nil).foreach(walk(_, n :: path))
    }
    edges.keys.foreach(walk(_, Nil))
  }

  private def asMap(o: Object): Map[String, Object] =
    o.asInstanceOf[java.util.Map[String, Object]].asScala.toMap

  private def str(m: Map[String, Object], k: String): String = m(k).toString

  /** keep-first dedup kernel shared by the `dedup_exact` and
    * `caption_dedup` stages (one implementation — a tie-break or
    * null-safety fix cannot diverge between them): content hash plus
    * any extra identity keys form the composite, EVERY key column
    * encoded through a string that keeps null-keyed rows in their
    * own cluster instead of silently vanishing at the inner join
    * (null-unsafe equality matches nothing — the r14 ADVICE hazard,
    * and its image-column twin from the r16 review wave); groupBy-min,
    * join back, keep the first id. ONE shuffle on the composite.
    * The null sentinel CANNOT collide with data (r16 ADVICE — the
    * old " null " pad DID equal the literal string " null "): every
    * non-null value is prefixed "v", nulls map to the bare " "
    * — the two images are disjoint by construction. Helper column
    * names are RESERVED: a frame already carrying one would silently
    * mis-dedup (its values shadowed mid-kernel), so refuse loudly at
    * stage application with the remedy named. */
  private def keepFirstStage(df: org.apache.spark.sql.DataFrame,
                             idCol: String, textExpr: String,
                             extraKeys: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{md5, min, lit, coalesce, when, concat}
    val reserved = "__cth" +: "__keep" +: extraKeys.indices.map(i => s"__kfk$i")
    // case-INSENSITIVE check: Spark's default resolver is
    // case-insensitive, so a frame carrying "__CTH" would slip a
    // case-sensitive guard and still be shadowed by withColumn —
    // the exact silent loss the guard exists to refuse (review wave)
    reserved.filter(h => df.columns.exists(_.equalsIgnoreCase(h))).foreach(h =>
      throw new IllegalArgumentException(
        s"keep-first dedup reserves helper column '$h' — rename it " +
          "in the input frame before the dedup stage"))
    var withH = df.withColumn("__cth",
      coalesce(md5(expr(textExpr)), lit(" ")))
    val keyCols = extraKeys.zipWithIndex.map { case (k, i) =>
      val kc = s"__kfk$i"
      withH = withH.withColumn(kc,
        when(col(k).isNull, lit(" "))
          .otherwise(concat(lit("v"), col(k).cast("string"))))
      kc
    } :+ "__cth"
    val keep = withH.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("__keep"))
    withH.join(keep, keyCols).filter(col(idCol) === col("__keep"))
      .drop(keyCols :+ "__keep": _*)
  }

  /** one `processors:` list of batch span/log processors
    * (generated_config.go:33-49 BatchSpanProcessor — the log shape
    * :11-31 is field-identical): `batch:` only, the reference's
    * SpanProcessor.Unmarshal teeth ("unsupported span processor
    * type", config.go:158); exporter console OR otlp. */
  private def parseBatchProcessorList(o: Object, signal: String = "span")
      : Seq[SelfTelemetryOtlp.SpanProcessorConf] =
    o.asInstanceOf[java.util.List[Object]].asScala.toSeq.map { p0 =>
      val p = asMap(p0)
      // error strings carry the SIGNAL being parsed — a logs-block
      // mistake must not send the operator hunting in traces
      // (review-wave finding); the traces wording stays the
      // reference's exact "unsupported span processor type"
      val b = p.get("batch").map(asMap).getOrElse(
        throw new IllegalArgumentException(
          s"unsupported $signal processor type ${p.keys.mkString(",")} " +
            "(batch only)"))
      val exp = b.get("exporter").map(asMap).getOrElse(
        throw new IllegalArgumentException(
          s"field exporter in Batch${signal.capitalize}Processor: required"))
      val target: Either[Unit, SelfTelemetryOtlp.OtlpPush] =
        (exp.get("console"), exp.get("otlp")) match {
          case (Some(_), None) => Left(())
          case (None, Some(o2)) => Right(parseOtlpPush(asMap(o2)))
          case (Some(_), Some(_)) => throw new IllegalArgumentException(
            s"batch $signal processor declares BOTH console and otlp " +
              "exporters — pick one")
          case (None, None) => throw new IllegalArgumentException(
            "invalid exporter configuration (console or otlp)")
        }
      val conf = SelfTelemetryOtlp.SpanProcessorConf(
        exporter = target,
        scheduleDelayMs = b.get("schedule_delay")
          .map(_.asInstanceOf[Number].longValue()).getOrElse(5000L),
        maxQueueSize = b.get("max_queue_size")
          .map(_.asInstanceOf[Number].intValue()).getOrElse(2048),
        maxExportBatchSize = b.get("max_export_batch_size")
          .map(_.asInstanceOf[Number].intValue()).getOrElse(512),
        exportTimeoutMs = b.get("export_timeout")
          .map(_.asInstanceOf[Number].longValue()))
      require(conf.scheduleDelayMs > 0 && conf.maxQueueSize > 0 &&
        conf.maxExportBatchSize > 0,
        s"batch $signal processor sizes/delay must be positive")
      conf
    }

  /** `exporter: {otlp: {...}}` block of a periodic metric reader or
    * batch span processor (generated_config.go Otlp/OtlpMetric):
    * endpoint + protocol REQUIRED (the generated unmarshaler's
    * "field X: required"); headers/compression optional; the
    * certificate trio maps onto the existing configtls client shape
    * (certificate → ca, client_certificate/client_key → identity). */
  private def parseOtlpPush(o: Map[String, Object],
                            timeoutKey: Option[Long] = None)
      : SelfTelemetryOtlp.OtlpPush = {
    val endpoint = o.get("endpoint").map(_.toString).getOrElse(
      throw new IllegalArgumentException("field endpoint in Otlp: required"))
    val protocol = o.get("protocol").map(_.toString).getOrElse(
      throw new IllegalArgumentException("field protocol in Otlp: required"))
    val tlsKeys = Seq("certificate", "client_certificate", "client_key")
      .flatMap(k => o.get(k).map(k -> _.toString))
    val tls =
      if (tlsKeys.isEmpty) None
      else Some(graft.sources.Tls.fromMap(tlsKeys.map {
        case ("certificate", v)        => "ca_file" -> (v: Object)
        case ("client_certificate", v) => "cert_file" -> (v: Object)
        case ("client_key", v)         => "key_file" -> (v: Object)
      }.toMap))
    SelfTelemetryOtlp.OtlpPush(
      protocol = protocol,
      endpoint = endpoint,
      headers = o.get("headers").map(asMap).getOrElse(Map.empty)
        .map { case (k, v) => k -> v.toString },
      compression = o.get("compression").map(_.toString).getOrElse(""),
      timeoutMs = o.get("timeout").map(_.asInstanceOf[Number].longValue())
        .orElse(timeoutKey),
      tls = tls)
  }

  private def strList(o: Object): Seq[String] =
    o.asInstanceOf[java.util.List[Object]].asScala.map(_.toString).toSeq

  private def buildReceiver(m: Map[String, Object],
                            lookup: String => PipelineDef,
                            propagator: Option[graft.sources.Propagators.Composite] = None): Receiver = {
    val inner = buildReceiverInner(m, lookup, propagator)
    // any receiver may declare its client.Info: {"client": {"addr":
    // .., "auth": {..}, "metadata": {"k": ["v", ..] | "v"}}} — the
    // config form of ClientInfoReceiver
    m.get("client").map(asMap) match {
      case None => inner
      case Some(c) =>
        val md: Map[String, Seq[String]] =
          c.get("metadata").map(asMap).getOrElse(Map.empty).map {
            case (k, v: java.util.List[_]) =>
              k -> v.asScala.toSeq.map(_.toString)
            case (k, v) => k -> Seq(v.toString)
          }
        val auth: Map[String, String] =
          c.get("auth").map(asMap).getOrElse(Map.empty)
            .map { case (k, v) => k -> v.toString }
        ClientInfoReceiver(inner,
          ClientInfo(c.get("addr").map(_.toString), auth, md))
    }
  }

  private def buildReceiverInner(m: Map[String, Object],
                                 lookup: String => PipelineDef,
                                 propagator: Option[graft.sources.Propagators.Composite] = None): Receiver =
    str(m, "type") match {
      case "table"          => TableReceiver(str(m, "dir"), str(m, "table"))
      case "parquet"        => ParquetReceiver(str(m, "path"))
      case "otlp_json_logs" => OtlpJsonLogReceiver(str(m, "path"))
      case "otlp_pb_logs"   => OtlpPbLogReceiver(str(m, "path"))
      case "otlp_pb_logs_gz" => OtlpPbGzLogReceiver(str(m, "path"))
      // continuous (readStream) receivers — Service.runStreaming
      case "stream_json_logs" => StreamJsonLogsReceiver(str(m, "path"),
        m.get("maxFilesPerTrigger").map(_.asInstanceOf[Number].intValue()))
      case "stream_pb_logs" => StreamPbLogsReceiver(str(m, "path"),
        m.get("maxFilesPerTrigger").map(_.asInstanceOf[Number].intValue()))
      // the LIVE OTLP transports as config receivers (the reference's
      // `receivers: otlp: protocols:` block): wire server → spool →
      // streaming pb parse; optional configtls/configauth blocks
      case "otlp_http" => OtlpHttpServerReceiver(
        port = m.get("port").map(_.asInstanceOf[Number].intValue()).getOrElse(4318),
        spoolDir = str(m, "spool"),
        maxFilesPerTrigger =
          m.get("maxFilesPerTrigger").map(_.asInstanceOf[Number].intValue()),
        tls = m.get("tls").map(t => graft.sources.Tls.fromMap(asMap(t))),
        auth = m.get("auth").map(a => graft.sources.Auth.serverFromMap(asMap(a))),
        includeMetadata = m.get("include_metadata").exists(_.toString == "true"),
        // service-wide propagators: extracted trace context rides the
        // client-metadata sidecar (requires include_metadata)
        propagator = propagator)
      case "otlp_grpc" => OtlpGrpcServerReceiver(
        port = m.get("port").map(_.asInstanceOf[Number].intValue()).getOrElse(4317),
        spoolDir = str(m, "spool"),
        maxFilesPerTrigger =
          m.get("maxFilesPerTrigger").map(_.asInstanceOf[Number].intValue()),
        tls = m.get("tls").map(t => graft.sources.Tls.fromMap(asMap(t))),
        auth = m.get("auth").map(a => graft.sources.Auth.serverFromMap(asMap(a))),
        // confignet: transport tcp (default) | unix with a socket path
        transport = ConfigNet.parse(
          m.get("transport").map(_.toString).getOrElse(""),
          m.get("path").map(_.toString).orNull))
      // datagram line ingest (syslog/statsd shape): confignet
      // udp|udp4|udp6|unixgram → spool → streaming text source
      case "udp_lines" => UdpLinesServerReceiver(
        port = m.get("port").map(_.asInstanceOf[Number].intValue()).getOrElse(0),
        spoolDir = str(m, "spool"),
        transport = ConfigNet.parseDatagram(
          m.get("transport").map(_.toString).getOrElse(""),
          m.get("path").map(_.toString).orNull),
        maxDatagramBytes = m.get("max_datagram_bytes")
          .map(_.asInstanceOf[Number].intValue()).getOrElse(65536),
        maxFilesPerTrigger = m.get("maxFilesPerTrigger")
          .map(_.asInstanceOf[Number].intValue()))
      // Arrow-over-gRPC stream receiver (the otel-arrow transport):
      // ArrowStreamService server → IPC spool → streaming Arrow parse
      case "otlp_arrow" =>
        // the otel-arrow receiver's admission block, parsed ONCE:
        // bound on received-but-not-yet-durable bytes + waiter cap
        val admission = m.get("admission").map(asMap)
        OtlpArrowServerReceiver(
          port = m.get("port").map(_.asInstanceOf[Number].intValue()).getOrElse(4317),
          spoolDir = str(m, "spool"),
          maxFilesPerTrigger =
            m.get("maxFilesPerTrigger").map(_.asInstanceOf[Number].intValue()),
          tls = m.get("tls").map(t => graft.sources.Tls.fromMap(asMap(t))),
          auth = m.get("auth").map(a => graft.sources.Auth.serverFromMap(asMap(a))),
          // the receive half of the exporter's delta_dict (batch
          // reassembly of the fragment spool)
          deltaStream = m.get("delta_stream").exists(_.toString == "true"),
          // configgrpc max_recv_msg_size_mib
          maxRecvMsgBytes = m.get("max_recv_msg_size_mib")
            .map(_.asInstanceOf[Number].longValue() * 1024L * 1024L)
            .getOrElse(graft.sources.Spool.MaxRequestBytes),
          admissionBytes = admission.flatMap(_.get("request_limit_mib"))
            .map(_.asInstanceOf[Number].longValue() * 1024L * 1024L),
          admissionWaiters = admission.flatMap(_.get("waiter_limit"))
            .map(_.asInstanceOf[Number].intValue()).getOrElse(64),
          admissionWaitMs = admission.flatMap(_.get("wait_ms"))
            .map(_.asInstanceOf[Number].longValue()).getOrElse(1000L))
      // JSONL corpus source — the inverse of the jsonl exporter
      // (schema inferred; .gz transparent via Spark's text codecs)
      case "jsonl" => new Receiver {
        private val path = str(m, "path")
        def read(spark: org.apache.spark.sql.SparkSession)
            : org.apache.spark.sql.DataFrame = spark.read.json(path)
      }
      // WARC corpus ingestion (Warc.scala): a directory of .warc[.gz]
      // files exploded into record rows — the Common Crawl entry
      case "warc" => new Receiver {
        private val path = str(m, "path")
        def read(spark: org.apache.spark.sql.SparkSession)
            : org.apache.spark.sql.DataFrame =
          graft.sources.Warc.parseFiles(
            spark.read.format("binaryFile").load(path))
      }
      // scraperhelper controller as a config receiver: interval-pulled
      // JVM runtime metrics → spool → streaming metric-point source
      case "scrape_jvm" => ScrapeJvmReceiver(str(m, "spool"),
        intervalMs = m.get("interval_ms").map(_.asInstanceOf[Number].longValue()).getOrElse(10000L),
        timeoutMs = m.get("timeout_ms").map(_.asInstanceOf[Number].longValue()).getOrElse(30000L))
      case "arrow_logs"     => ArrowLogsReceiver(str(m, "path"))
      // connectors: bridge/fan pipelines by name
      case "forward"        => ForwardReceiver(() => lookup(str(m, "from")))
      case "union"          => UnionReceiver(() => strList(m("from")).map(lookup))
      case other => throw new IllegalArgumentException(s"unknown receiver type: $other")
    }

  private def buildProcessor(m: Map[String, Object]): Stage = str(m, "type") match {
    case "filter" => df => df.filter(expr(str(m, "where")))
    case "upsert" => df => df.withColumn(str(m, "name"), expr(str(m, "expr")))
    case "drop" => df => df.drop(strList(m("columns")): _*)
    case "select" => df => df.selectExpr(strList(m("exprs")): _*)
    case "sample" => df =>
      graft.operators.Processors.probabilisticSample(df, col(str(m, "id")),
        m("hexDigits").asInstanceOf[Number].intValue())
    // routing connector: first matching predicate labels the row
    case "route" => df =>
      graft.operators.Processors.route(df,
        m("routes").asInstanceOf[java.util.List[Object]].asScala.toSeq.map { r =>
          val rm = asMap(r)
          str(rm, "name") -> expr(str(rm, "when"))
        },
        m.get("default").map(_.toString).getOrElse("other"))
    case "batch" => df =>
      graft.operators.Processors.assignBatchesByKey(df,
        strList(m("keys")), expr(str(m, "order")),
        m("size").asInstanceOf[Number].intValue())
    // client.Info-driven batching (the reference's metadata_keys +
    // metadata_cardinality_limit knobs)
    case "batch_by_metadata" => df =>
      graft.operators.Processors.assignBatchesByMetadata(df,
        strList(m("metadataKeys")), expr(str(m, "order")),
        m("size").asInstanceOf[Number].intValue(),
        m.get("cardinalityLimit").map(_.asInstanceOf[Number].intValue()).getOrElse(0))
    // declarative aggregation stage — the connector-class transform
    // (spanmetrics/count shape) in config: group by key EXPRESSIONS
    // (a `ts_ns DIV 3600000000000` key is a tumbling window) and
    // apply named aggregates. Keys use `expr AS name` SQL aliasing.
    case "aggregate" => df => {
      val keys = strList(m("keys")).map(expr)
      require(m("aggs").asInstanceOf[java.util.List[Object]].size() > 0,
        "aggregate processor requires at least one entry in `aggs`")
      val aggs = m("aggs").asInstanceOf[java.util.List[Object]].asScala.toSeq
        .map { a0 =>
          val a = asMap(a0)
          val e = a.get("expr").map(_.toString).getOrElse("1")
          val c = str(a, "fn") match {
            case "count" => org.apache.spark.sql.functions.count(expr(e))
            case "sum"   => org.apache.spark.sql.functions.sum(expr(e))
            case "min"   => org.apache.spark.sql.functions.min(expr(e))
            case "max"   => org.apache.spark.sql.functions.max(expr(e))
            case "countDistinct" =>
              org.apache.spark.sql.functions.count_distinct(expr(e))
            case other => throw new IllegalArgumentException(
              s"unknown aggregate fn: $other")
          }
          c.as(str(a, "as"))
        }
      df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    }
    // ---- curation-pipeline processors: the LLM-data arc as config
    // stages (warc → html_to_text → gopher_gate → dedup_exact →
    // dedup_near → dedup_spancut → shuffle_shard → jsonl), each
    // delegating to the same operator the §2 queries run ----
    // HTML → extracted text COLUMN (q_html_extract's kernel, kept as
    // text for downstream dedup instead of reduced to stats)
    case "html_to_text" => df => {
      import org.apache.spark.sql.functions.{transform, split, trim, size, array_join, filter => ffilter}
      val minW = m.get("min_words").map(_.asInstanceOf[Number].intValue()).getOrElse(5)
      val txt = graft.operators.TextOps.htmlToText(expr(str(m, "from")))
      val lines = ffilter(transform(split(txt, "\n"), l => trim(l)), l => l =!= "")
      val kept = ffilter(lines, l => size(split(l, " +")) >= minW)
      df.withColumn(str(m, "to"), array_join(kept, "\n"))
    }
    // content-type stamp: code/table/prose from the SAME detector
    // expression q_content_type censuses and streamingContentType
    // monitors (TextOps.contentType — one rule, three surfaces);
    // compose with `route` to split per-type pipelines
    case "content_type" => df =>
      df.withColumn(m.get("as").map(_.toString).getOrElse("content_type"),
        graft.operators.TextOps.contentType(expr(str(m, "text"))))
    // Unicode confusable folding IN PLACE (or to `as`): the
    // decode-layer normalization (TextOps.normalizeConfusables — the
    // exact kernel q_text_normalize verifies byte-for-byte). Placed
    // before any tokenize/dedup stage so smart punctuation and
    // invisible characters cannot split the vocabulary or defeat a
    // content hash downstream — the curation arc's first text stage.
    case "text_normalize" => df =>
      df.withColumn(m.get("as").map(_.toString).getOrElse(str(m, "text")),
        graft.operators.TextOps.normalizeConfusables(expr(str(m, "text"))))
    // mojibake repair stamp (TextOps.fixMojibake — the exact replace
    // table q_text_fix censuses, one kernel): fix the double-encoded
    // UTF-8 class in place (or into `as`); sits one layer BELOW
    // text_normalize in a decode chain — repair broken decoding
    // first, then fold legitimate confusables
    case "text_fix" => df =>
      df.withColumn(m.get("as").map(_.toString).getOrElse(str(m, "text")),
        graft.operators.TextOps.fixMojibake(expr(str(m, "text"))))
    // PII scrub stamp (TextOps.piiScrub — the exact mask chain
    // q_pii_redact audits, one kernel): email/IPv4/E.164/digit-run
    // placeholders, specific masks before the generic digit rule
    case "pii_scrub" => df =>
      df.withColumn(m.get("as").map(_.toString).getOrElse(str(m, "text")),
        graft.operators.TextOps.piiScrub(expr(str(m, "text"))))
    // URL canonicalization stamp (TextOps.urlCanon — the exact
    // kernel q_url_canon verifies byte-for-byte): lowercase
    // scheme+host, www-strip, default-port drop, trailing-slash
    // strip, fragment drop, utm_* removal + param sort. Stamp the
    // canonical form, then REFETCH DEDUP is the existing dedup_exact
    // stage keyed on the stamped column — one kernel, no dedicated
    // dedup-by-url machinery to drift.
    case "url_canon" => df =>
      df.withColumn(m.get("as").map(_.toString).getOrElse("url_canon"),
        graft.operators.TextOps.urlCanon(expr(str(m, "url"))))
    // Gopher quality gate: keep rows passing ALL rule flags
    // (TextOps.gopherFlags — the exact expressions q_gopher_rules
    // censuses, so the gate and the report can never drift)
    case "gopher_gate" => df =>
      df.filter(graft.operators.TextOps.gopherFlags(expr(str(m, "text")))
        .map(_._2).reduce(_ && _))
    // language gate: keep rows whose stopword-vote language ID
    // (TextOps.langId — the exact kernel q_lang_id censuses and
    // streamingLangId monitors live; this stage completes the
    // stage+query+monitor triple on the lang axis) lands in the
    // configured keep list. The keep list is a config constant
    // (a handful of language codes), so isin is a fixed literal
    // In-list — the data-derived In-list hazard does not apply.
    case "lang_gate" => df => {
      val keep = strList(m("keep"))
      require(keep.nonEmpty, "lang_gate: empty keep list " +
        "(pass keep: [en, ...] — an empty gate would drop everything)")
      // null text votes 'und' HERE, not 'de': the raw kernel's
      // when-chain falls through its NULL comparisons to the
      // otherwise branch (cross-engine-consistent in the census,
      // where it is only REPORTED) — but a gate turns that quirk
      // into a keep decision, so nulls are pinned to the same
      // 'und' the too-short path gets (keep them by listing 'und')
      val t = expr(str(m, "text"))
      df.filter(when(t.isNull, lit("und"))
        .otherwise(graft.operators.TextOps.langId(
          graft.operators.TextOps.tokens(t)))
        .isin(keep: _*))
    }
    // SOFT-dedup weight stamp: weight = 1/n over each exact-duplicate
    // cluster (q_dedup_soft's reweighting as a pipeline stage — keep
    // every row, shrink its sampling mass instead of dropping; the
    // shard writer downstream consumes the weight). Stamping a
    // per-ROW column means the full frame joins the (hash, n) counts
    // on the content hash — like the dedup_exact stage above, the
    // row frame (text included) exchanges once on __cth at scale
    // (AQE broadcasts the counts side only when it is small). The
    // REPORT-shaped q_dedup_soft query is the tuned form (aggregates
    // to (h, source) partials first); a stage that must emit rows
    // cannot avoid bringing n to the row.
    case "dedup_soft" => df => {
      import org.apache.spark.sql.functions.{md5, count, lit, coalesce}
      val wcol = m.get("as").map(_.toString).getOrElse("weight")
      // coalesce the hash to a sentinel (r14 advice): md5(NULL) is
      // NULL and an inner join on __cth would silently DROP null-text
      // rows — contradicting the stage's keep-every-row contract.
      // With the sentinel, null-text rows form one cluster and
      // survive with weight 1/n over it. " null " cannot
      // collide with a real md5 (hex charset).
      val withH = df.withColumn("__cth",
        coalesce(md5(expr(str(m, "text"))), lit(" null ")))
      val counts = withH.groupBy(col("__cth")).agg(count(lit(1)).as("__n"))
      withH.join(counts, "__cth")
        .withColumn(wcol, lit(1.0) / col("__n").cast("double"))
        .drop("__cth", "__n")
    }
    // first-occurrence novelty census as a REPORT stage (q_novelty's
    // kernel verbatim — md5 keys, the doc-sized-join shape): files
    // the per-(source, bucket) novelty table for the frame flowing
    // through, e.g. at the end of an ingest arc before curation
    case "novelty_report" => df => {
      val idc = str(m, "id"); val txc = str(m, "text")
      val src = m.get("source").map(_.toString).getOrElse("source")
      require(df.columns.contains(src),
        s"novelty_report source column '$src' not in the frame " +
          "(pass source: <column> — the census is per-source)")
      graft.DataPipelineQueries.noveltyCensus(
        df.select(col(idc).cast("long").as("doc_id"),
          col(src).as("source"), expr(txc).as("text")),
        seg => org.apache.spark.sql.functions.md5(seg))
    }
    // exact dedup, keep-first: one shuffle on the content hash
    // (keepFirstStage — the shared keep-first kernel, incl. the
    // null-hash sentinel: without it null-text rows never match the
    // inner join and silently vanish)
    case "dedup_exact" => df =>
      keepFirstStage(df, str(m, "id"), str(m, "text"), Nil)
    // near dedup: exact-Jaccard pairs (posting lists, size-ratio
    // prune) → connected components → keep the min id per component
    case "dedup_near" => df => {
      val idc = str(m, "id")
      // connectedComponents labels propagate over LONG ids; a string
      // id would cast to NULL and either crash deep in CC or make
      // the anti-join vacuous (silently keeping every duplicate) —
      // refuse at the seam with the remedy named
      df.schema(idc).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType => ()
        case other => throw new IllegalArgumentException(
          s"dedup_near id column '$idc' is $other — connected " +
            "components need an integral id; derive one first " +
            "(e.g. upsert a CAST/regexp_extract of the natural key)")
      }
      val thr = m.get("threshold").map(_.asInstanceOf[Number].doubleValue()).getOrElse(0.5)
      val ng = m.get("shingle").map(_.asInstanceOf[Number].intValue()).getOrElse(3)
      val sh = df.select(col(idc).as("__did"),
        graft.operators.DedupOps.shinglesOfText(expr(str(m, "text")), ng).as("__shs"))
      val pairs = graft.operators.DedupOps.jaccardPairs(sh, "__did", "__shs", thr)
      val dropIds = graft.operators.DedupOps.connectedComponents(pairs)
        .filter(col("id") =!= col("component"))
        .select(col("id").as("__dropid"))
      df.join(dropIds, col(idc).cast("long") === col("__dropid"), "left_anti")
    }
    // ExactSubstr span-cut remedy (Lee et al.; the q_dedup_span_cut
    // machinery verbatim): duplicated spans >= min_len leave the
    // NON-canonical copy (higher id), text reassembled in token
    // order. `text` must be a plain column NAME — it is rewritten in
    // place (a fully-duplicated doc legitimately cuts to "").
    case "dedup_spancut" => df => {
      import org.apache.spark.sql.functions.{posexplode, explode, concat_ws, coalesce, lit, when}
      val idc = str(m, "id"); val txc = str(m, "text")
      require(df.columns.contains(txc),
        s"dedup_spancut text '$txc' must be an existing column name " +
          "(the column is rewritten in place)")
      val minLen = m.get("min_len").map(_.asInstanceOf[Number].intValue()).getOrElse(15)
      val dfCap = m.get("df_cap").map(_.asInstanceOf[Number].intValue()).getOrElse(50)
      val spans = graft.DataPipelineQueries.exactDupSpansFrom(
        df.select(col(idc).as("doc_id"), col(txc).as("text")), minLen, dfCap)
      val cut = graft.operators.DedupOps.spanCutPositions(spans)
        .localCheckpoint() // feeds the semi-join + the anti-join
      // the shared cut kernel returns one row per CUT doc with its
      // reassembled text (the rest of the corpus passes through)
      val rebuilt = graft.operators.DedupOps
        .spanCutRebuild(df, idc, txc, cut)
        .select(col("doc_id").as("__rbid"), col("kept_text").as("__cut_text"))
      df.join(rebuilt, col(idc) === col("__rbid"), "left")
        .withColumn(txc, when(col("__rbid").isNotNull, col("__cut_text"))
          .otherwise(col(txc)))
        .drop("__rbid", "__cut_text")
    }
    // Fused dedup decision REPORT (the q_dedup_fused kernel — one
    // implementation behind the query and this stage, so the artifact
    // a curation run files can never drift from the flagship's): the
    // frame REDUCES to the per-source verdict-mixture report
    // (drop_exact/drop_near/cut_spans/keep counts + before/after
    // token-mass mixture) — put it LAST in its pipeline, feeding the
    // sink that files the report, while a sibling pipeline carries
    // the curated text forward.
    case "dedup_fused_report" => df => {
      val idc = str(m, "id"); val txc = str(m, "text")
      val src = m.get("source").map(_.toString).getOrElse("source")
      // CC labels propagate over integral ids (the dedup_near teeth)
      df.schema(idc).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType => ()
        case other => throw new IllegalArgumentException(
          s"dedup_fused_report id column '$idc' is $other — connected " +
            "components need an integral id; derive one first")
      }
      require(df.columns.contains(src),
        s"dedup_fused_report source column '$src' not in the frame " +
          "(pass source: <column> — the report is a per-source mixture)")
      graft.DataPipelineQueries.fusedDedupReport(
        df.select(col(idc).cast("long").as("doc_id"),
          col(src).as("source"), expr(txc).as("text")),
        minLen = m.get("min_len").map(_.asInstanceOf[Number].intValue()).getOrElse(15),
        dfCap = m.get("df_cap").map(_.asInstanceOf[Number].intValue()).getOrElse(50),
        jaccard = m.get("threshold").map(_.asInstanceOf[Number].doubleValue()).getOrElse(0.5),
        shingle = m.get("shingle").map(_.asInstanceOf[Number].intValue()).getOrElse(3),
        cutFrac = m.get("cut_frac").map(_.asInstanceOf[Number].doubleValue()).getOrElse(0.05))
    }
    // dedup-family VENN census as a REPORT stage (the q_dedup_venn
    // kernel verbatim — same shared flag frame as the fused verdict):
    // files the 8-combination agreement table NEXT TO the fused
    // mixture it justifies, in the same curation yaml (a family
    // flagging only subsets of another is paying its cost for
    // nothing — the filed census is what the next run's config
    // review reads before dropping a family)
    case "dedup_venn_report" => df => {
      val idc = str(m, "id"); val txc = str(m, "text")
      // CC labels propagate over integral ids (the dedup_near teeth)
      df.schema(idc).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType => ()
        case other => throw new IllegalArgumentException(
          s"dedup_venn_report id column '$idc' is $other — connected " +
            "components need an integral id; derive one first")
      }
      // the shared flag frame carries a source column the venn
      // census never groups on — synthesize one (the census is
      // corpus-global, unlike the fused per-source mixture)
      graft.DataPipelineQueries.vennDedupReport(
        df.select(col(idc).cast("long").as("doc_id"),
          org.apache.spark.sql.functions.lit("").as("source"),
          expr(txc).as("text")),
        minLen = m.get("min_len").map(_.asInstanceOf[Number].intValue()).getOrElse(15),
        dfCap = m.get("df_cap").map(_.asInstanceOf[Number].intValue()).getOrElse(50),
        jaccard = m.get("threshold").map(_.asInstanceOf[Number].doubleValue()).getOrElse(0.5),
        shingle = m.get("shingle").map(_.asInstanceOf[Number].intValue()).getOrElse(3),
        cutFrac = m.get("cut_frac").map(_.asInstanceOf[Number].doubleValue()).getOrElse(0.05))
    }
    // (image, caption) composite-key dedup, keep-first — the pair
    // pipeline's pre-alignment gate (q_caption_dedup's semantics as
    // the FILTER stage; the query is the report form): the same
    // image re-crawled under many pages carries byte-identical
    // captions, and dropping the copies BEFORE pair_align_report
    // keeps the filed census from double-counting spam. `image`
    // names the image-identity column (an id, a phash, a canonical
    // url); ONE shuffle on (image, caption-hash); the dedup_exact
    // null-caption sentinel keeps null-text pairs in one cluster
    // instead of silently vanishing at the inner join.
    case "caption_dedup" => df => {
      Seq("id", "image", "text").foreach(k => require(m.contains(k),
        s"caption_dedup needs '$k:' (id column, image-identity " +
          "column, caption text expression)"))
      val idc = str(m, "id"); val img = str(m, "image")
      Seq(idc, img).foreach(c => require(df.columns.contains(c),
        s"caption_dedup column '$c' not in the frame"))
      // keepFirstStage coalesces the image key through the string
      // sentinel too: a pair whose phash/url extraction failed
      // (NULL image identity) forms its own cluster instead of
      // silently vanishing at the null-unsafe inner join (review
      // wave) — the filed census downstream stays honest
      keepFirstStage(df, idc, str(m, "text"), Seq(img))
    }
    // image-text pair ALIGNMENT census as a REPORT stage (the
    // q_pair_align kernel verbatim — pairAlignCensus is the one
    // implementation behind the query and this stage, the
    // dedup_venn_report discipline): the frame REDUCES to the
    // per-(source, cutoff) keep/drop table a multimodal curation run
    // files next to the corpus it gates — put it LAST in its
    // pipeline, feeding the sink that files the report. Input
    // columns: `source` plus the two embedding arrays (`image`,
    // `text` name them); cosine argument order is (text, image),
    // the query's, so the filed table is bit-equal to q_pair_align
    // on the same pairs.
    case "pair_align_report" => df => {
      // the census kernel localCheckpoint()s its one pair pass — a
      // streaming frame would die with an opaque AnalysisException
      // deep inside the kernel; refuse at realize time with the
      // stage named and the live twin pointed to (r16 ADVICE — the
      // refuse-at-parse discipline the other report stages keep)
      require(!df.isStreaming,
        "pair_align_report is batch-only (the census checkpoints " +
          "its one pair pass); use streamingPairAlign for a live monitor")
      val src = m.get("source").map(_.toString).getOrElse("source")
      val ic = m.get("image").map(_.toString).getOrElse("image_embedding")
      val tc = m.get("text").map(_.toString).getOrElse("text_embedding")
      Seq(src, ic, tc).foreach(c => require(df.columns.contains(c),
        s"pair_align_report needs column '$c' in the frame " +
          "(source + the two embedding arrays)"))
      graft.DataPipelineQueries.pairAlignCensus(
        df.select(col(src).as("source"),
          graft.operators.AnnOps.cosine(
            col(tc).cast("array<double>"),
            col(ic).cast("array<double>")).as("sim")))
    }
    // semconv schema migration: rewrite a map<string,string> attrs
    // column's keys between catalog versions (SemConv.renames —
    // the 1.18.0 → 1.23.0 HTTP stabilization table; side picks the
    // client/server view of the net.* fold)
    case "semconv_migrate" => df =>
      df.withColumn(str(m, "attrs"), graft.model.SemConv.migrateAttrs(
        col(str(m, "attrs")), str(m, "from"), str(m, "to"),
        m.get("side").map(_.toString).getOrElse("client")))
    // deterministic shuffle + shard assignment (ScaleOps.shuffleShard)
    case "shuffle_shard" => df =>
      graft.operators.ScaleOps.shuffleShard(df, str(m, "id"),
        m("shards").asInstanceOf[Number].intValue(), str(m, "seed"),
        portable = m.get("portable").exists(_.toString == "true"))
    // size + event-time-age bounded batches (timeout trigger, batch mode)
    case "batch_timed" => df =>
      graft.operators.Processors.assignBatchesTimed(df,
        expr(str(m, "ts")), m("maxAge").asInstanceOf[Number].longValue(),
        expr(str(m, "order")), m("size").asInstanceOf[Number].intValue())
    case other => throw new IllegalArgumentException(s"unknown processor type: $other")
  }

  private def buildExporter(m: Map[String, Object],
                            pipeline: String = "", exporterIdx: Int = 0,
                            ext: String => Extensions.Extension =
                              n => throw new IllegalArgumentException(
                                s"unknown extension '$n'")): Exporter = {
    val base = buildExporterBase(m, pipeline, exporterIdx, ext)
    // exporterhelper sender-chain blocks, applied in the reference
    // order retry(timeout(sink)) (queued_retry.go: the retry sender
    // wraps the timeout sender): any exporter entry may declare
    //   "timeout_ms": N            — one-attempt wall-clock bound
    //   "retry_on_failure": {      — RetrySettings
    //      max_retries, initial_interval_ms, multiplier,
    //      max_interval_ms }
    val withTimeout = m.get("timeout_ms")
      .map(t => TimeoutExporter(base, t.asInstanceOf[Number].longValue())
        : Exporter)
      .getOrElse(base)
    m.get("retry_on_failure").map(asMap) match {
      case None => withTimeout
      case Some(r) => RetryingExporter(withTimeout,
        maxRetries = r.get("max_retries")
          .map(_.asInstanceOf[Number].intValue()).getOrElse(3),
        backoffMs = r.get("initial_interval_ms")
          .map(_.asInstanceOf[Number].longValue()).getOrElse(100L),
        multiplier = r.get("multiplier")
          .map(_.asInstanceOf[Number].doubleValue()).getOrElse(2.0),
        maxBackoffMs = r.get("max_interval_ms")
          .map(_.asInstanceOf[Number].longValue()).getOrElse(30000L))
    }
  }

  private def buildExporterBase(m: Map[String, Object],
                                pipeline: String, exporterIdx: Int,
                                ext: String => Extensions.Extension): Exporter = str(m, "type") match {
    case "parquet" => ParquetExporter(str(m, "path"),
      partitionBy = m.get("partitionBy").toSeq.flatMap(strList))
    // per-metadata-combination delivery off the _client carrier
    case "parquet_by_metadata" => MetadataPartitionedExporter(
      str(m, "path"), strList(m("metadataKeys")))
    // queued-retry + dead-letter wrapping of a parquet sink
    case "parquet_queued" => QueuedExporter(
      ParquetExporter(str(m, "path")), str(m, "dlq"),
      maxRetries = m.get("maxRetries").map(_.asInstanceOf[Number].intValue()).getOrElse(2))
    // crash-durable queue wrapping a parquet sink (persistent_queue.go).
    // The durable location is EITHER an explicit `queue` dir or a
    // `storage` reference to a file_storage extension (the reference
    // queue's storageID: the extension owns the location, the queue
    // asks for its component scope) — exactly one must be given.
    case "parquet_persistent" => PersistentQueueExporter(
      ParquetExporter(str(m, "path")),
      (m.get("queue"), m.get("storage")) match {
        case (Some(q), None) => q.toString
        case (None, Some(s)) => ext(s.toString) match {
          case fsx: Extensions.FileStorage =>
            fsx.scopeDirectory("exporter", s"$pipeline/$exporterIdx", "queue")
          case other => throw new IllegalArgumentException(
            s"extension '${other.name}' is not a storage extension")
        }
        case (Some(_), Some(_)) => throw new IllegalArgumentException(
          "parquet_persistent: give `queue` OR `storage`, not both")
        case (None, None) => throw new IllegalArgumentException(
          "parquet_persistent requires a `queue` dir or a `storage` extension reference")
      },
      maxAttemptsPerBatch =
        m.get("maxAttempts").map(_.asInstanceOf[Number].intValue()).getOrElse(6),
      capacityBytes =
        m.get("capacityBytes").map(_.asInstanceOf[Number].longValue()).getOrElse(0L),
      numConsumers =
        m.get("num_consumers").map(_.asInstanceOf[Number].intValue()).getOrElse(1))
    case "arrow_spool" => ArrowSpoolExporter(str(m, "path"),
      maxPerFile = m.get("maxPerFile").map(_.asInstanceOf[Number].intValue()).getOrElse(4096),
      dictCap = m.get("dictCap").map(_.asInstanceOf[Number].intValue()).getOrElse(0),
      codec = m.get("codec").map(_.toString).getOrElse("none"))
    // the otel-arrow exporter's stream pool: N concurrent arrow
    // writers with downgrade-to-pb (prioritizer.go/exporter.go)
    case "arrow_pool" => new ArrowStreamPoolExporter(str(m, "path"),
      numStreams = m.get("streams").map(_.asInstanceOf[Number].intValue()).getOrElse(4),
      dictCap = m.get("dictCap").map(_.asInstanceOf[Number].intValue()).getOrElse(0),
      codec = m.get("codec").map(_.toString).getOrElse("none"),
      downgradeAfter =
        m.get("downgradeAfter").map(_.asInstanceOf[Number].intValue()).getOrElse(3))
    // JSONL corpus export — the handoff format external training
    // stacks consume: one JSON object per line, optional gzip,
    // optional partition columns (a shuffle_shard column makes the
    // deterministic training-shard layout)
    case "jsonl" => new Exporter {
      private val path = str(m, "path")
      private val compression = m.get("compression").map(_.toString).getOrElse("none")
      private val partitionBy = m.get("partitionBy").toSeq.flatMap(strList)
      def export(df: org.apache.spark.sql.DataFrame): Unit = {
        val json = df.select(
          org.apache.spark.sql.functions.to_json(
            org.apache.spark.sql.functions.struct(
              df.columns.map(org.apache.spark.sql.functions.col).toSeq: _*))
            .as("value") +: partitionBy.map(org.apache.spark.sql.functions.col): _*)
        val w = json.write.mode("overwrite").option("compression", compression)
        (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).text(path)
      }
      // idempotent streaming delivery: a replayed batch overwrites
      // only its own subdir (the parquet exporters' keying discipline)
      override def exportBatch(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
        val json = df.select(
          org.apache.spark.sql.functions.to_json(
            org.apache.spark.sql.functions.struct(
              df.columns.map(org.apache.spark.sql.functions.col).toSeq: _*))
            .as("value"))
        json.write.mode("overwrite").option("compression", compression)
          .text(s"$path/batch_id=$batchId")
      }
    }
    // verbosity basic|normal|detailed (none rejected) + zap-sampler
    // knobs, the loggingexporter config surface (config.go:30-39);
    // `debug` is the reference's rename of the same component
    // (loggingexporter → debugexporter), accepted as an alias
    case "logging" | "debug" => LoggingExporter(
      rows = m.get("rows").map(_.asInstanceOf[Number].intValue()).getOrElse(20),
      verbosity = m.get("verbosity")
        .map(v => Extensions.TelemetryLevel.parse(v.toString))
        .getOrElse(Extensions.LevelNormal),
      samplingInitial = m.get("sampling_initial")
        .map(_.asInstanceOf[Number].intValue()).getOrElse(2),
      samplingThereafter = m.get("sampling_thereafter")
        .map(_.asInstanceOf[Number].intValue()).getOrElse(500))
    // OTLP/HTTP push exporter; optional configtls `tls:` block
    // ({cert_file, key_file, ca_file, client_auth, min_version,
    //   max_version, insecure_skip_verify})
    case "otlp_http" => graft.sources.OtlpHttp.OtlpHttpExporter(
      endpoint = str(m, "endpoint"), signal = str(m, "signal"),
      useJson = m.get("encoding").exists(_.toString == "json"),
      compression = m.get("compression").map(_.toString).getOrElse(""),
      tls = m.get("tls").map(t => graft.sources.Tls.fromMap(asMap(t))),
      // configauth client half ({bearer_token} | {basic: {username,
      // password}} | {api_key_header, api_key})
      auth = m.get("auth").map(a => graft.sources.Auth.clientFromMap(asMap(a))),
      // confighttp client Headers: fixed headers on every request
      // (values render [REDACTED] in print-config)
      headers = m.get("headers").map(asMap).getOrElse(Map.empty)
        .map { case (k, v) => k -> v.toString })
    // OTLP/gRPC push exporter (the collector's primary protocol,
    // client half) — same optional tls/auth blocks
    case "otlp_grpc" =>
      // confignet: transport tcp (default, port required) | unix
      // with a socket path (port then not meaningful)
      val grpcTpt = ConfigNet.parse(
        m.get("transport").map(_.toString).getOrElse(""),
        m.get("path").map(_.toString).orNull)
      graft.sources.GrpcOtlp.OtlpGrpcExporter(
        host = m.get("host").map(_.toString).getOrElse("localhost"),
        port = grpcTpt match {
          case ConfigNet.Tcp => m("port").asInstanceOf[Number].intValue()
          case _ => 0
        },
        signal = str(m, "signal"),
        // configgrpc compression: gzip|snappy|zstd (none/identity = off)
        compression = m.get("compression").map(_.toString).getOrElse(""),
        tls = m.get("tls").map(t => graft.sources.Tls.fromMap(asMap(t))),
        auth = m.get("auth").map(a => graft.sources.Auth.clientFromMap(asMap(a))),
        transport = grpcTpt)
    // Arrow-over-gRPC stream exporter: long-lived ArrowStreamService
    // streams with per-batch acks; downgrades to the standard OTLP
    // gRPC exporter when the peer answers UNIMPLEMENTED
    case "otlp_arrow" =>
      val host = m.get("host").map(_.toString).getOrElse("localhost")
      val port = m("port").asInstanceOf[Number].intValue()
      val signal = str(m, "signal")
      new graft.sources.ArrowGrpc.ArrowGrpcStreamExporter(
        host = host, port = port, signal = signal,
        numStreams = m.get("num_streams")
          .map(_.asInstanceOf[Number].intValue()).getOrElse(2),
        maxStreamLifetimeMs = m.get("max_stream_lifetime_ms")
          .map(_.asInstanceOf[Number].longValue()).getOrElse(0L),
        keepaliveMs = m.get("keepalive_ms")
          .map(_.asInstanceOf[Number].longValue()).getOrElse(0L),
        // stateful per-stream delta dictionaries; the fragment spool
        // re-ingests via ArrowGrpc.readStreamedSpool (batch reassembly)
        deltaDict = m.get("delta_dict").exists(_.toString == "true"),
        dictCap = m.get("dict_cap")
          .map(_.asInstanceOf[Number].intValue()).getOrElse(64),
        // delta fragments carry no IPC buffer compression (the
        // exporter refuses the combination loudly) — default the
        // codec off when delta_dict is on, instead of tripping it
        codec = m.get("codec").map(_.toString).getOrElse(
          if (m.get("delta_dict").exists(_.toString == "true")) "none"
          else "zstd"),
        // grpc-encoding on the stream's messages (distinct from the
        // IPC buffer `codec`): gzip|snappy|zstd
        compression = m.get("compression").map(_.toString).getOrElse(""),
        rowsPerBatch = m.get("rows_per_batch")
          .map(_.asInstanceOf[Number].intValue()).getOrElse(4096),
        // fixed per-batch metadata headers (the headerReceiver shape;
        // authenticated server-side like stream-open headers)
        batchHeaders = m.get("batch_headers").map(asMap).getOrElse(Map.empty)
          .map { case (k, v) => k -> v.toString },
        connectTimeoutMs = m.get("connect_timeout_ms")
          .map(_.asInstanceOf[Number].intValue()).getOrElse(10000),
        readTimeoutMs = m.get("read_timeout_ms")
          .map(_.asInstanceOf[Number].intValue()).getOrElse(30000),
        tls = m.get("tls").map(t => graft.sources.Tls.fromMap(asMap(t))),
        auth = m.get("auth").map(a => graft.sources.Auth.clientFromMap(asMap(a))),
        fallback = Some(graft.sources.GrpcOtlp.OtlpGrpcExporter(
          host = host, port = port, signal = signal,
          tls = m.get("tls").map(t => graft.sources.Tls.fromMap(asMap(t))),
          auth = m.get("auth").map(a => graft.sources.Auth.clientFromMap(asMap(a))))))
    case other => throw new IllegalArgumentException(s"unknown exporter type: $other")
  }
}
