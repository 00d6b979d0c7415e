"""Registered queries, one module per family.  Each query registers
itself with ``registry.register(name, sql)``; ``registry._load_queries``
imports every family."""
