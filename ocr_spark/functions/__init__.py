"""Native Column-expression helpers (JVM-side, whole-stage codegen)."""
