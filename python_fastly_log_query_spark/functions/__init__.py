from .columns import (  # noqa: F401
    agent_type,
    ip_to_long,
    query_signature,
    status_class,
)
