"""Python implementations for the reference's JS temp-function surface
(register via Engine(udf_registry=...))."""
