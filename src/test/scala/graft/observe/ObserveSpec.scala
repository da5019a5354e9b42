package graft.observe

import graft.SparkSpec

class ObserveSpec extends SparkSpec {

  test("registry: counters accumulate, gauges overwrite, labels separate series") {
    val m = new MetricsRegistry("cdc")
    m.inc("records_total", 5, Map("table" -> "users"))
    m.inc("records_total", 3, Map("table" -> "users"))
    m.inc("records_total", 7, Map("table" -> "orders"))
    m.setGauge("lag_seconds", 12.0)
    m.setGauge("lag_seconds", 3.0)
    assert(m.counter("records_total", Map("table" -> "users")) == 8.0)
    assert(m.counter("records_total", Map("table" -> "orders")) == 7.0)
    assert(m.gauge("lag_seconds") == 3.0)
  }

  test("histograms fold to count/sum/max: 100k observations leave one constant-size entry") {
    val m = new MetricsRegistry("cdc")
    (1 to 100000).foreach(i =>
      m.observeHistogram("batch_duration_ms", i.toDouble, Map("query" -> "q")))
    assert(m.histogram("batch_duration_ms", Map("query" -> "q")) ==
      Some(Histogram(100000L, 5000050000.0, 100000.0)))
    assert(m.histogram("batch_duration_ms").isEmpty) // other labels, other series
  }

  test("recordReconciliation computes accuracy like the reference (metrics.py:147-151)") {
    val m = new MetricsRegistry()
    m.recordReconciliation("users",
      Map("match" -> 90L, "mismatch" -> 5L, "missing_in_target" -> 5L))
    assert(m.gauge("reconciliation_accuracy_percent", Map("table" -> "users")) == 90.0)
  }

  test("M4 schema metrics flow from the registry into the alert rules") {
    import graft.schemaevo.{SchemaCompat, SchemaStore}
    val m = new MetricsRegistry("cdc")
    val store = new SchemaStore(SchemaCompat.Backward, metrics = Some(m))
    def rec(fields: String) =
      s"""{"type":"record","name":"U","namespace":"n","fields":[$fields]}"""
    assert(store.register("users-value", rec("""{"name":"id","type":"string"}""")).isRight)
    // COMPATIBLE evolution (added field with default) → change counted,
    // version gauge advances
    val v2 = rec("""{"name":"id","type":"string"},{"name":"age","type":"int","default":0}""")
    assert(store.register("users-value", v2).isRight)
    assert(m.counter("schema_changes_total", Map("subject" -> "users-value")) == 2.0)
    assert(m.gauge("schema_current_version", Map("subject" -> "users-value")) == 2.0)
    // idempotent re-register of the same schema → no counter movement
    assert(store.register("users-value", v2).isRight)
    assert(m.counter("schema_changes_total", Map("subject" -> "users-value")) == 2.0)
    // INCOMPATIBLE (fields removed) → compat-failure counter, version
    // gauge and change counter hold
    assert(store.register("users-value", rec("")).isLeft)
    assert(m.counter("schema_compat_failures_total",
      Map("subject" -> "users-value", "mode" -> "Backward")) == 1.0)
    assert(m.counter("schema_changes_total", Map("subject" -> "users-value")) == 2.0)
    assert(m.gauge("schema_current_version", Map("subject" -> "users-value")) == 2.0)
    // structurally invalid schema → validation-failure counter
    assert(store.register("users-value", """{"type":"record","name":"X"}""").isLeft)
    assert(m.counter("schema_validation_failures_total",
      Map("subject" -> "users-value")) == 1.0)
    // the reference's SchemaCompatFailures alert fires off the snapshot
    val fired = Alerts.evaluate(m.snapshot(spark)).collect().map(_.getString(0)).toSet
    assert(fired.contains("SchemaCompatFailures"))
  }

  test("correlation context: propagation, nesting, restoration (correlation.py:84-151)") {
    assert(Correlation.currentId.isEmpty)
    val outer = Correlation.withContext("outer-id") { id =>
      assert(id == "outer-id" && Correlation.currentId.contains("outer-id"))
      Correlation.withContext() { inner =>
        assert(inner.matches("[0-9a-f-]{36}"))
        assert(Correlation.currentId.contains(inner))
      }
      assert(Correlation.currentId.contains("outer-id")) // restored after nest
      id
    }
    assert(outer == "outer-id" && Correlation.currentId.isEmpty) // cleaned up
  }

  test("alert rules fire on threshold breach (alerts.py:45-322)") {
    val m = new MetricsRegistry("cdc")
    m.setGauge("replication_lag_seconds", 1000.0)   // > 900 critical, > 300 warning
    m.setGauge("reconciliation_accuracy_percent", 97.0) // no alert
    m.setGauge("connector_health", 0.0)             // down → critical
    val fired = Alerts.evaluate(m.snapshot(spark)).collect()
      .map(r => r.getString(0)).toSet
    assert(fired == Set("ReplicationLagHigh", "ReplicationLagCritical", "ConnectorDown"))
  }

  test("rate-window rules: restart loop, reconcile failures, schema churn (18-rule parity)") {
    assert(Alerts.ReferenceRules.size == 18) // full reference rule count
    val m = new MetricsRegistry("cdc")
    m.setGauge("connector_restarts_per_10min", 3.0)    // flapping
    m.setGauge("reconciliation_failures_per_hour", 1.0)
    m.setGauge("schema_changes_per_hour", 6.0)         // > 5/h churn
    val fired = Alerts.evaluate(m.snapshot(spark)).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(fired == Map(
      "ConnectorRestartLoop" -> "warning",
      "ReconciliationFailure" -> "warning",
      "FrequentSchemaChanges" -> "info"))
  }
}
